package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Unit cases for the [[PlanChecks]] shape classifiers — in particular
  * the negative case ADVICE r10 asked for: an aggregate grouping on a
  * data-sized (non-pid-derived) key above an id-bearing projection
  * must NOT classify as the GlobalRank offset shape, even though its
  * subtree's treeString mentions the id function (the round-10
  * substring check passed it). */
class PlanChecksSpec extends SparkSpec {

  private def unpartitionedWindows(df: org.apache.spark.sql.DataFrame) =
    PlanChecks.windowsOf(df.queryExecution.executedPlan)
      .filter(_.partitionSpec.isEmpty)

  test("offset shape: accepts the real GlobalRank plan") {
    import spark.implicits._
    val df = Seq(("a", 3), ("b", 1), ("c", 2), ("d", 5), ("e", 4))
      .toDF("k", "x")
    val ranked = graft.operators.GlobalRank.withRank(
      df, Seq(col("x"), col("k")), "rk", parts = 2)
    val ws = unpartitionedWindows(ranked)
    assert(ws.nonEmpty, "GlobalRank plan must contain the offset windows")
    ws.foreach(w => assert(PlanChecks.isOffsetShape(w),
      s"offset window not recognized:\n$w"))
    // and the result is still right (the classifier is about the plan,
    // not the answer — but a broken fixture would vacuously pass)
    assert(ranked.orderBy("rk").select("k").as[String].collect().toSeq ==
      Seq("b", "c", "a", "e", "d"))
  }

  test("offset shape: rejects a data-sized grouping above an id-bearing subtree") {
    // grouping key is `id` (data-sized); the subtree CONTAINS
    // monotonically_increasing_id, so the old toString.contains check
    // would have classified this single-task window as bounded
    val df = spark.range(100)
      .withColumn("mid", monotonically_increasing_id())
      .groupBy(col("id")).agg(max("mid").as("m"))
      .withColumn("s", sum("m").over(Window.orderBy("id")))
    val ws = unpartitionedWindows(df)
    assert(ws.nonEmpty, "fixture must plan an unpartitioned window")
    ws.foreach(w => assert(!PlanChecks.isOffsetShape(w),
      "data-sized grouping misclassified as the bounded offset shape"))
  }

  test("offset shape: lineage resolves across a cache boundary") {
    // the real rankCore caches the keyed relation, so the pid-deriving
    // projection sits BELOW an InMemoryTableScan — the classifier must
    // link the scan's output attributes to the cached plan's
    val keyed = graft.pipeline.CachePool.cached(spark, "", "planChecksKeyed")(
      spark.range(50)
        .withColumn("mid", monotonically_increasing_id())
        .withColumn("pid", shiftrightunsigned(col("mid"), 33)))
    val df = keyed.groupBy("pid").agg(count(lit(1)).as("c"))
      .withColumn("off", sum("c").over(Window.orderBy("pid")))
    val ws = unpartitionedWindows(df)
    assert(ws.nonEmpty)
    ws.foreach(w => assert(PlanChecks.isOffsetShape(w),
      "cached pid lineage not recognized"))
  }

  test("exchangesWithCached counts a cached subtree's exchanges once") {
    import spark.implicits._
    val base = Seq(("a", 1), ("b", 2), ("a", 3)).toDF("k", "x")
      .groupBy("k").agg(sum("x").as("sx")).cache()
    try {
      // two scans of the same cache: per-execution census sees 1
      // exchange (the join's own, if any, plus none — a union needs
      // no exchange); the cached-inclusive census adds the groupBy's
      // exchange exactly once, not twice
      val u = base.union(base)
      val plan = u.queryExecution.executedPlan
      val per = PlanChecks.exchanges(plan)
      val incl = PlanChecks.exchangesWithCached(plan)
      assert(per == 0, s"union of cached scans shuffles nothing, got $per")
      assert(incl == 1, s"cached subtree's exchange counted once, got $incl")
    } finally base.unpersist()
  }
}
