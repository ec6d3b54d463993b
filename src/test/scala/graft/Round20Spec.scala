package graft

import org.apache.spark.sql.functions._

/** Round-20 pins: recover wired into the read/boot path (VERDICT r15
  * top item), the grouped-model contract checks and digest-keyed
  * registry (ADVICE r15), and the NaN-vs-+Inf argmin distinction. */
class Round20Spec extends SparkSpec {

  private def locOf(table: String) = new org.apache.hadoop.fs.Path(
    spark.sessionState.conf.warehousePath, table.toLowerCase)
  private def fs = locOf("x").getFileSystem(
    spark.sparkContext.hadoopConfiguration)
  private def parkMidSwap(table: String): Unit = {
    val loc = locOf(table)
    val old = new org.apache.hadoop.fs.Path(
      loc.getParent, "." + loc.getName + ".bkt-old")
    assert(fs.rename(loc, old), s"crash simulation: park $table")
    spark.catalog.refreshTable(table) // drop the cached healthy FileIndex
  }

  test("BucketedStore.read recovers a crashed mid-swap replace: a FRESH boot path serves with no explicit recover and no replace") {
    // VERDICT r15 top item: recover's docstring promised every boot
    // path calls it, but only replace() did — a process that died
    // between the two swap renames left a fresh serving session
    // failing at boot until a maintenance replace happened to run.
    import spark.implicits._
    val t = "graft_r20_boot_t"
    Seq(t, t + "__stage").foreach(x =>
      graft.sources.BucketedStore.clearTable(spark, x))
    val a = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "x")
    graft.sources.BucketedStore.write(a, t, "doc_id", 2)
    graft.sources.BucketedStore.replace(
      spark.table(t).unionByName(Seq((3L, "c")).toDF("doc_id", "x")),
      t, Seq("doc_id"), 2)
    parkMidSwap(t)
    // the boot path: read only — no recover call, no replace
    assert(graft.sources.BucketedStore.read(spark, t).count() == 3,
      "read must roll the half-swap forward and serve the full store")
    // and the store is healthy again: a plain read sees it too
    assert(spark.table(t).count() == 3)
    spark.sql(s"DROP TABLE IF EXISTS `$t`")
  }

  test("ModelStore.read recovers a crashed mid-swap retrain: a FRESH boot path serves with no explicit recover and no retrain") {
    // the same gap BucketedStore.read closed this round, one module
    // over: write() rolled a crashed swap forward, but a process that
    // died between the two renames left every FRESH serving session
    // failing at boot until the next retrain ran.
    import spark.implicits._
    val t = "graft_r20_model_t"
    spark.sql(s"DROP TABLE IF EXISTS `$t`")
    graft.sources.ModelStore.write(
      Seq((1, 0.5), (2, 1.5)).toDF("cid", "x"), t)
    // same-schema retrain takes the swap path
    graft.sources.ModelStore.write(
      Seq((1, 0.25), (2, 1.25), (3, 2.25)).toDF("cid", "x"), t)
    val loc = locOf(t)
    val old = new org.apache.hadoop.fs.Path(
      loc.getParent, "." + loc.getName + ".model-old")
    assert(fs.rename(loc, old), "crash simulation: park the live model")
    spark.catalog.refreshTable(t)
    // the boot path: read only — no recover call, no retrain
    assert(graft.sources.ModelStore.read(spark, t).count() == 3,
      "read must roll the half-swap forward and serve the full model")
    assert(spark.table(t).count() == 3)
    spark.sql(s"DROP TABLE IF EXISTS `$t`")
  }

  test("ingest sink boots over a mid-swap-crashed history store: the batch probes and lands with no manual recovery") {
    // consumer-level proof: dedupIngestBatch's base reads go through
    // BucketedStore.read, so a serving session that inherits a
    // half-swapped sketch store just works.
    requireFixture(SfMid)
    import graft.pipeline.{DedupQueries, DupCorpus}
    import graft.streaming.StreamingEvents
    val ns = "_rb20"
    DedupQueries.historyStoresExecute(spark, SfMid, ns)
    val (dB, dSk, pT) = DedupQueries.ingestTables(SfMid, ns)
    Seq(dB, dSk, pT, DedupQueries.pairsBaseTable(SfMid, ns))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    val (bandsT, skT) = DedupQueries.historyStores(SfMid, ns)
    // make both history stores replace-maintained, then crash each
    // mid-swap: the catalog entries survive, the locations are parked
    graft.sources.BucketedStore.replace(
      spark.table(bandsT), bandsT, Seq("band_idx", "k1", "k2"), 8)
    graft.sources.BucketedStore.replace(
      spark.table(skT), skT, Seq("doc_id"), 8)
    val skBefore = spark.table(skT).count()
    parkMidSwap(bandsT)
    parkMidSwap(skT)
    graft.pipeline.CachePool.drop(spark, SfMid, "mhBaseBloom", ns)
    val newSlice = DupCorpus.corpus(spark, SfMid)
      .filter(col("doc_id") % 5 === 0).select("doc_id", "text")
    StreamingEvents.dedupIngestBatch(spark, SfMid, ns)(newSlice, 0L)
    assert(spark.table(pT).count() > 0, "the parked history must probe")
    assert(spark.table(skT).count() == skBefore, "history intact")
    Seq(dB, dSk, pT, DedupQueries.pairsBaseTable(SfMid, ns))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }

  test("pairs-log retention: mid-stream folds truncate the pair log into the bucketed base, the relation stays exact, post-fold reads are a plain scan") {
    // VERDICT r15 #3: the pairs log previously grew one small parquet
    // file per batch forever and every read paid a full distinct().
    requireFixture(SfMid)
    import spark.implicits._
    import graft.pipeline.{DedupQueries, DupCorpus}
    import graft.streaming.StreamingEvents
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ns = "_pr20"
    DedupQueries.historyStoresExecute(spark, SfMid, ns)
    val (dB, dSk, pT) = DedupQueries.ingestTables(SfMid, ns)
    val pb = DedupQueries.pairsBaseTable(SfMid, ns)
    Seq(dB, dSk, pT, pb).foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    def row(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val want = SparkEntry.queries("dedup_minhash_incremental")(spark, SfMid)
      .collect().map(row).toSet
    val newDocs = DupCorpus.corpus(spark, SfMid)
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // long stream: many small batches, 1-doc threshold → EVERY batch
    // ends in a fold, so the pairs log is truncated mid-stream many
    // times while pairs keep landing
    var batches = 0
    newDocs.grouped(math.max(newDocs.length / 5, 1)).zipWithIndex
      .foreach { case (g, i) =>
        StreamingEvents.dedupIngestBatch(spark, SfMid, ns,
          compactAtDeltaDocs = 1L)(
          g.toSeq.toDF("doc_id", "text"), i.toLong)
        batches += 1
        assert(!spark.catalog.tableExists(pT),
          "the fold must truncate the pair log with the delta")
      }
    assert(batches >= 5, "fixture: the stream must span several folds")
    // the folded base IS the whole relation — exact, distinct, bounded
    val got = StreamingEvents.dedupIngestPairs(spark, SfMid, ns)
    assert(got.collect().map(row).toSet == want,
      "pairs relation must survive every mid-stream fold exactly")
    assert(spark.table(pb).count() ==
      spark.table(pb).distinct().count(), "base must be distinct")
    // post-fold the read face is a PLAIN bucketed scan: no distinct
    // aggregate left in the plan, and the file count is the bucketed
    // store's, not one-per-batch
    assert(got.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      case d: org.apache.spark.sql.catalyst.plans.logical.Deduplicate => d
    }.isEmpty, "post-fold read must be a plain scan")
    val pbFiles = new java.io.File(
      new java.net.URI(spark.sessionState.conf.warehousePath
        .replaceFirst("^file:", "file://")).getPath, pb)
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(pbFiles <= 32, s"bucketed base must stay bounded, saw $pbFiles")
    Seq(dB, dSk, pT, pb).foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }

  test("pairs fold crash window: a delta stranded between the replace and its drop double-counts nothing — reads stay exact, the next fold converges") {
    requireFixture(SfMid)
    import spark.implicits._
    import graft.pipeline.{DedupQueries, DupCorpus}
    import graft.streaming.StreamingEvents
    val ns = "_pc20"
    DedupQueries.historyStoresExecute(spark, SfMid, ns)
    val (dB, dSk, pT) = DedupQueries.ingestTables(SfMid, ns)
    val pb = DedupQueries.pairsBaseTable(SfMid, ns)
    Seq(dB, dSk, pT, pb).foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    def row(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val want = SparkEntry.queries("dedup_minhash_incremental")(spark, SfMid)
      .collect().map(row).toSet
    val newSlice = DupCorpus.corpus(spark, SfMid)
      .filter(col("doc_id") % 5 === 0).select("doc_id", "text")
    StreamingEvents.dedupIngestBatch(spark, SfMid, ns)(newSlice, 0L)
    // crash simulation: the pairs REPLACE committed (fold into the
    // bucketed base) but the process died before the delta drop —
    // every delta row is now ALSO in the base
    graft.sources.BucketedStore.replace(
      spark.table(pT).distinct(), pb, Seq("doc_a", "doc_b"), 8)
    assert(spark.catalog.tableExists(pT), "delta must survive the crash")
    // reads in the crash window: base ∪ (delta anti-joined against
    // the base) — exact, and the BASE side stays aggregate-free even
    // here (VERDICT r16 #6: the old distinct-over-union re-aggregated
    // the full base on every crash-window read)
    val cw = StreamingEvents.dedupIngestPairs(spark, SfMid, ns)
    assert(cw.collect().map(row).toSet == want,
      "crash-window read must be exact")
    def scansBase(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p.collectLeaves().exists {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.catalogTable.exists(_.identifier.table.equalsIgnoreCase(pb))
        case _ => false
      }
    def aggs(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
        case d: org.apache.spark.sql.catalyst.plans.logical.Deduplicate => d
      }
    val union = cw.queryExecution.optimizedPlan.collectFirst {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }.getOrElse(fail("crash-window read must union base and delta"))
    // the branch SERVING base rows is a plain scan: base rows reach
    // the output through zero aggregates. (The delta branch may carry
    // the base as its anti-join's build side — Catalyst pushes the
    // anti join below the delta's distinct, which only shrinks the
    // aggregate's delta-sized input further.)
    val baseBranch = union.children.head
    assert(scansBase(baseBranch), "first union branch serves the base")
    assert(aggs(baseBranch).isEmpty,
      "crash-window read must keep the base-serving branch aggregate-free")
    assert(aggs(cw.queryExecution.optimizedPlan).nonEmpty,
      "the small delta side still dedups")
    // the replayed fold converges: distinct over the union adds
    // nothing twice, the delta drops, post-fold reads are exact
    DedupQueries.compactIngestHistory(spark, SfMid, ns)
    assert(!spark.catalog.tableExists(pT))
    assert(StreamingEvents.dedupIngestPairs(spark, SfMid, ns)
      .collect().map(row).toSet == want, "post-fold read must be exact")
    assert(spark.table(pb).count() == want.size, "no double-fold")
    Seq(dB, dSk, pT, pb).foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }

  test("grouped model contract checks fail at build: ragged dims and duplicate codes name the offender (ADVICE r15)") {
    val ragged = Seq(
      (1, Seq((0, Seq(0.0, 1.0)), (1, Seq(1.0, 0.0)))),
      (5, Seq((0, Seq(2.0, 2.0)), (1, Seq(-1.0)))))
    val e1 = intercept[IllegalArgumentException] {
      graft.functions.GroupedCentroidModel.of(ragged)
    }
    assert(e1.getMessage.contains("gid 5 cid 1") &&
      e1.getMessage.contains("dim 1, expected 2"))
    val dup = Seq((1, Seq((0, Seq(0.0, 1.0)), (0, Seq(1.0, 0.0)))))
    val e2 = intercept[IllegalArgumentException] {
      graft.functions.GroupedCentroidModel.of(dup)
    }
    assert(e2.getMessage.contains("duplicate cid 0 in gid 1"))
  }

  test("grouped registry: digest-keyed idFor is stable for equal families and distinguishes different ones") {
    val fam1 = Seq(
      (1, Seq((0, Seq(0.0, 1.0)), (1, Seq(1.0, 0.0)))),
      (5, Seq((0, Seq(2.0, 2.0)), (1, Seq(-1.0, -1.0)))))
    // a structurally-equal but distinct Seq instance: same id (the
    // broadcast is shared, not re-minted per plan build)
    val fam1b = fam1.map { case (g, cs) => (g, cs.map(identity)) }
    val fam2 = Seq((1, Seq((0, Seq(0.0, 1.0)), (1, Seq(1.0, 0.125)))))
    val id1 = graft.functions.GroupedCentroidModels.idFor(spark, fam1)
    val id1b = graft.functions.GroupedCentroidModels.idFor(spark, fam1b)
    val id2 = graft.functions.GroupedCentroidModels.idFor(spark, fam2)
    assert(id1 == id1b, "equal families must share one broadcast id")
    assert(id1 != id2, "different families must not alias")
    val m1 = graft.functions.GroupedCentroidModel.of(fam1)
    val m1b = graft.functions.GroupedCentroidModel.of(fam1b)
    val m2 = graft.functions.GroupedCentroidModel.of(fam2)
    assert(m1.digest == m1b.digest && m1 == m1b)
    assert(m1.digest != m2.digest && m1 != m2)
  }

  test("graft_group_nearest distinguishes all-+Inf distances from the all-NaN sentinel (ADVICE r15)") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val groups = Seq((1, Seq((0, Seq(1.0e300, 1.0e300)),
      (1, Seq(-1.0e300, -1.0e300)))))
    val bc = spark.sparkContext.broadcast(
      graft.functions.GroupedCentroidModel.of(groups))
    def evalOn(v: Seq[Double]) = graft.functions.NearestInGroup(
        Literal.create(v, ArrayType(DoubleType)), Literal(1), 0L, bc)
      .eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
    // ‖c‖² overflows to +Inf for both codes and the dot can't pull it
    // back: every d = +Inf. The oracle's ORDER BY ranks +Inf normally,
    // so the expression must report (+Inf, first code), not NaN.
    val inf = evalOn(Seq(0.0, 0.0))
    assert(inf.getDouble(0).isPosInfinity && inf.getInt(1) == 0)
    // the NaN sentinel stays reserved for vectors with NaN components
    val nan = evalOn(Seq(Double.NaN, Double.NaN))
    assert(nan.getDouble(0).isNaN && nan.getInt(1) == 0)
    // codegen path agrees
    import spark.implicits._
    val df = Seq((1L, Seq(0.0, 0.0), 1), (2L, Seq(Double.NaN, Double.NaN), 1))
      .toDF("id", "v", "gid")
    val rows = df.select(col("id"),
        graft.functions.GroupedCentroidModels.nearestInGroup(
          spark, groups, col("v"), col("gid")).getField("d").as("d"))
      .orderBy("id").collect()
    assert(rows(0).getDouble(1).isPosInfinity)
    assert(rows(1).getDouble(1).isNaN)
  }
}
