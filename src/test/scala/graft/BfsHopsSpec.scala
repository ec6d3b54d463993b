package graft

import graft.functions.GraphKernels
import graft.pipeline.DedupQueries
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

/** `graft_bfs_hops` against a plain-Scala BFS with the oracle's
  * semantics, and the `graph_bfs_hops` face built on it.
  *
  * The reference walks the recursive CTE of the face's oracle SQL
  * literally: level h+1 is every edge target of a level-h node, for
  * h < cap; a node's hops is the first level it appears in. It shares
  * no code with the kernel's CSR breadth-first queue. */
class BfsHopsSpec extends SparkSpec {

  type Edges = Seq[(Long, Long)]

  def reference(root: Long, edges: Edges, cap: Int): Seq[(Long, Int)] = {
    val out = scala.collection.mutable.LinkedHashMap(root -> 0)
    var level = Set(root)
    for (h <- 1 to cap) {
      level = edges.collect { case (a, b) if level(a) => b }.toSet
      level.foreach(n => if (!out.contains(n)) out(n) = h)
    }
    out.toSeq.sortBy(_._1)
  }

  def kernel(root: Long, edges: Edges, cap: Int): Seq[(Long, Int)] = {
    val r = GraphKernels.bfsHops(root,
      new GenericArrayData(edges.map(_._1).toArray),
      new GenericArrayData(edges.map(_._2).toArray), cap)
    (0 until r.numElements()).map { i =>
      val row = r.getStruct(i, 2); (row.getLong(0), row.getInt(1))
    }
  }

  // --- graph generator: a few components of mixed shapes over
  // disjoint random ids, optionally symmetric, with duplicate edges
  private def shape(ids: Seq[Long]): Gen[Edges] = {
    val chain = ids.zip(ids.drop(1))
    Gen.oneOf(
      Gen.const(chain),                                       // chain
      Gen.const(chain ++ ids.lastOption.zip(ids.headOption)), // cycle
      Gen.const(ids.drop(1).map(ids.head -> _)),              // star
      Gen.listOf(for { a <- Gen.oneOf(ids); b <- Gen.oneOf(ids) }
        yield a -> b))                                        // random
  }
  private val component: Gen[Edges] = for {
    n <- Gen.choose(1, 12)
    ids <- Gen.listOfN(n, Gen.choose(-1000L, 1000L)).map(_.distinct)
    e <- shape(ids)
  } yield e
  val graphs: Gen[Edges] = for {
    k <- Gen.choose(0, 4)
    comps <- Gen.listOfN(k, component)
    sym <- Gen.oneOf(true, false)
    dup <- Gen.choose(0, 3)
    order <- Gen.long
  } yield {
    val e = comps.flatten.distinct
    val both = if (sym) e ++ e.map(_.swap) else e
    new scala.util.Random(order).shuffle(both ++ both.take(dup))
  }
  val cases: Gen[(Long, Edges, Int)] = for {
    e <- graphs
    // a node of the graph, or (empty graphs too) one with no edges
    root <- if (e.isEmpty) Gen.const(5000L)
            else Gen.frequency(9 -> Gen.oneOf(e.map(_._1)), 1 -> Gen.const(5000L))
    cap <- Gen.choose(1, 9)
  } yield (root, e, cap)

  test("kernel = oracle-semantics BFS on 500 random graphs, caps 1-9") {
    val prop = Prop.forAll(cases) { case (root, e, cap) =>
      kernel(root, e, cap) == reference(root, e, cap)
    }
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(500).withInitialSeed(Seed(17L)), prop)
    assert(res.passed, res.status.toString)
    assert(res.succeeded >= 500)
  }

  test("kernel degenerate shapes: empty edges, isolated root, odd caps") {
    assert(kernel(7L, Nil, 1) == Seq(7L -> 0))
    assert(kernel(7L, Seq(1L -> 2L), 3) == Seq(7L -> 0))
    val chain = (0L until 10L).map(i => i -> (i + 1))
    for (cap <- 1 to 9)
      assert(kernel(0L, chain, cap) == (0 to cap).map(h => h.toLong -> h),
        s"cap $cap")
    // duplicate edges and a shortcut: min hops wins
    assert(kernel(0L, Seq(0L -> 1L, 1L -> 2L, 0L -> 2L, 0L -> 2L), 1) ==
      Seq(0L -> 0, 1L -> 1, 2L -> 1))
  }

  test("codegen path = reference on 200 generated cases at every cap") {
    import spark.implicits._
    val sample = (1 to 200).map(i =>
      graphs.pureApply(Gen.Parameters.default, Seed(i.toLong)))
      .map { e => (if (e.isEmpty) 3L else e.head._1, e) }
    // an RDD source, not a local relation: a projection over a local
    // relation is folded on the driver by the interpreted eval path
    val df = spark.sparkContext.parallelize(sample.zipWithIndex.map {
      case ((root, e), i) => (i, root, e.map(_._1), e.map(_._2)) }, 2)
      .toDF("i", "root", "src", "dst")
    val cols = (1 to 9).map(c => call_function("graft_bfs_hops",
      col("root"), col("src"), col("dst"), lit(c)).as(s"c$c"))
    val q = df.select(col("i") +: cols: _*)
    assert(q.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }.nonEmpty)
    val fallback = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    val rows = try q.collect()
      finally spark.conf.set("spark.sql.codegen.fallback", fallback)
    assert(rows.length == 200)
    rows.foreach { r =>
      val (root, e) = sample(r.getInt(0))
      for (c <- 1 to 9) {
        val got = r.getSeq[org.apache.spark.sql.Row](c)
          .map(x => (x.getLong(0), x.getInt(1)))
        assert(got == reference(root, e, c), s"case ${r.getInt(0)} cap $c")
      }
    }
  }

  test("type check rejects a non-constant or non-positive cap and nullable arrays") {
    val df = spark.range(1).select(col("id"),
      array(lit(1L)).as("a"), array(lit(1L), lit(null).cast("long")).as("n"))
    def bfs(src: String, cap: org.apache.spark.sql.Column) =
      df.select(call_function("graft_bfs_hops", col("id"), col(src), col("a"), cap))
    assert(bfs("a", lit(2)).collect().length == 1)
    for ((cap, why) <- Seq(col("id").cast("int") -> "constant",
        lit(0) -> "positive", lit(-3) -> "positive",
        lit(null).cast("int") -> "positive")) {
      val err = intercept[AnalysisException](bfs("a", cap))
      assert(err.getMessage.contains(why), err.getMessage)
    }
    assert(intercept[AnalysisException](bfs("n", lit(2)))
      .getMessage.contains("without nulls"))
  }

  test("graph_bfs_hops face = reference BFS over the relational edge list") {
    val pairs = DedupQueries.minhashPairs(spark, Sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    val sym = pairs.toSeq ++ pairs.map(_.swap)
    // components by union-find; root = component minimum
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val roots = sym.map(_._1).distinct.map(find).distinct
    val expected = roots.flatMap { r =>
      reference(r, sym.filter(e => find(e._1) == r), DedupQueries.BfsMaxHops)
        .map { case (doc, h) => (doc, r, h) }
    }.sortBy(_._1)
    val got = DedupQueries.queries("graph_bfs_hops")(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got == expected)
  }

  test("graph_bfs_hops construction runs no job after first touch") {
    DedupQueries.queries("graph_bfs_hops")(spark, Sf)
    Thread.sleep(300)
    @volatile var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      DedupQueries.queries("graph_bfs_hops")(spark, Sf)
      Thread.sleep(500)
      assert(jobs == 0, s"construction triggered $jobs Spark job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
