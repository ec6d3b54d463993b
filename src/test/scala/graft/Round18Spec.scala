package graft

import org.apache.spark.sql.functions._

/** Round-18 pins: the four ADVICE r13 fixes (centroid-registry LRU,
  * all-NaN d parity, streaming-dedup self-pair guard) plus this
  * round's lifecycle additions (generation-scoped PQ codes, online
  * dedup-history growth). */
class Round18Spec extends SparkSpec {

  test("centroid registry: LRU eviction — a resolution-refreshed id survives 64+ newer registrations") {
    // ADVICE r13 (medium): FIFO eviction dropped a handed-out id after
    // 64 newer registrations even while live plans kept resolving it.
    // With access-ordered eviction + bcFor refresh, an id that each
    // analysis touches is always the most-recently-used and can never
    // dangle under a lazily-analyzed long-lived DataFrame.
    import spark.implicits._
    val cents = Seq((0, Seq(0.0, 1.0)), (1, Seq(1.0, 0.0)))
    val df = Seq((1L, Seq(0.1, 0.9))).toDF("vec_id", "v")
    def assign() = df.select(graft.functions.CentroidModels
      .nearest(spark, cents, col("v")).getField("cid").as("cid"))
    assign() // mints the id; Dataset construction analyzes → bcFor hit
    (1 to 100).foreach { i =>
      // a fresh distinct model per step (a Lloyd loop's interim
      // registrations), interleaved with analyses of the old Column
      graft.functions.CentroidModels.idFor(spark,
        Seq((0, Seq(i.toDouble, 0.0)), (1, Seq(0.0, i.toDouble))))
      if (i % 8 == 0) assign() // the refresh that FIFO ignored
    }
    // 100 newer registrations later the refreshed model still resolves
    assert(assign().collect().map(_.getInt(0)).toSeq == Seq(0))
  }

  test("graft_cell_nearest: all-NaN vector keeps least()-form d parity (NaN, not +Inf)") {
    // ADVICE r13 (low): with an all-NaN input every ‖c‖²−2·v·c is NaN,
    // the strict < never fires, and the struct's d leaked the +Inf
    // seed — whereas the literal least()-over-structs form this
    // replaced ties all structs equal and keeps the FIRST, whose d is
    // NaN. cid parity (smallest cid) was already pinned; now d too.
    import spark.implicits._
    val cents = Seq((3, Seq(0.5, 0.5)), (7, Seq(1.5, 0.5)))
    val nan = Double.NaN
    val out = Seq((1L, Seq(nan, nan)), (2L, Seq(0.4, 0.6)))
      .toDF("vec_id", "v")
      .select(col("vec_id"), graft.functions.CentroidModels
        .nearest(spark, cents, col("v")).as("w"))
      .select(col("vec_id"), col("w.d"), col("w.cid"))
      .orderBy("vec_id").collect()
    assert(out(0).getDouble(1).isNaN, s"all-NaN row d = ${out(0).getDouble(1)}")
    assert(out(0).getInt(2) == 3, "all-NaN row lands in the first (smallest) cid")
    assert(!out(1).getDouble(1).isNaN && out(1).getInt(2) == 3)
  }

  test("streaming ingest dedup: a redelivered history document emits no self-pair") {
    // ADVICE r13 (low): the band probe had no doc_id ≠ hist_doc guard,
    // so an arriving doc already present in the history index collided
    // with its own bands and emitted (doc_a == doc_b, jaccard 1.0).
    import spark.implicits._
    import graft.streaming.StreamingEvents
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    graft.pipeline.DedupQueries.historyStoresExecute(spark, Sf)
    // a HISTORY document (doc_id % 5 ≠ 0) redelivered into the stream
    val hist = graft.pipeline.DupCorpus.corpus(spark, Sf)
      .filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id"), col("text")).limit(3).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, String)]
    val typed = mem.toDF().toDF("ts_ms", "doc_id", "text")
      .select(timestamp_millis(col("ts_ms")).as("ts"),
        col("doc_id"), col("text"))
    val q = StreamingEvents.dedupProbeStream(typed, spark, Sf,
        delayMs = 3600000L)
      .writeStream.format("memory").queryName("dedup_selfpair")
      .outputMode("append").start()
    try {
      mem.addData(hist.map { case (id, t) => (1000L, id, t) }: _*)
      q.processAllAvailable()
      mem.addData((1000L + 3600000L * 3, -1L, "watermark advance sentinel x y z"))
      q.processAllAvailable()
      val pairs = spark.table("dedup_selfpair").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(pairs.forall { case (a, b) => a != b },
        s"self-pairs emitted: ${pairs.filter(p => p._1 == p._2).toSeq}")
    } finally q.stop()
  }

  test("streaming ingest dedup grows the history: cross-micro-batch pairs emerge; parity with the batch incremental face") {
    // VERDICT r13 #3: dedupProbeStream probes a boot-frozen index, so
    // a batch-2 near-dup of a batch-1 doc (neither in history) was
    // missed forever. The foreachBatch sink lands accepted signatures
    // in the delta, so streaming the new slice in ANY batching must
    // reproduce dedup_minhash_incremental's ENTIRE pair relation —
    // cross (new-vs-history) AND self (new-vs-new), including pairs
    // whose two docs arrive in different micro-batches.
    import spark.implicits._
    import graft.streaming.StreamingEvents
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    requireFixture(SfMid)
    graft.pipeline.DedupQueries.historyStoresExecute(spark, SfMid)
    val (dB, dSk, pT) = graft.pipeline.DedupQueries.ingestTables(SfMid)
    Seq(dB, dSk, pT, graft.pipeline.DedupQueries.pairsBaseTable(SfMid))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    def row(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val want = SparkEntry.queries("dedup_minhash_incremental")(spark, SfMid)
      .collect().map(row).toSet
    // pick a new-vs-new pair and force its docs into DIFFERENT batches
    val span = want.find { case (a, b, _) => a % 5 == 0 && b % 5 == 0 }
    assume(span.nonEmpty, "fixture has no new-vs-new near-dup pair")
    val (spanA, spanB, _) = span.get
    val newDocs = graft.pipeline.DupCorpus.corpus(spark, SfMid)
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val b1 = newDocs.filter(_._1 != spanB)
    val b2 = newDocs.filter(_._1 == spanB)
    assert(b1.exists(_._1 == spanA) && b2.nonEmpty)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val ckpt = SparkSpec.tempDir("graft-ingest-ckpt")
    val q = StreamingEvents.dedupIngestStream(
      mem.toDF().toDF("doc_id", "text"), spark, SfMid, ckpt)
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = StreamingEvents.dedupIngestPairs(spark, SfMid)
      .collect().map(row).toSet
    assert(got.contains(span.get),
      s"cross-batch pair $span missing — history did not grow")
    assert(got == want,
      s"streamed ${got.size} vs batch ${want.size}; " +
        s"+${(got diff want).take(3)} -${(want diff got).take(3)}")
  }

  test("PQ lifecycle: generation-scoped code tables — g1 reaped, g2 drain window, g3 live and complete") {
    // VERDICT r13 #2: the PQ tier joins the maintenance cycle. Each
    // generation stages its own code tables + codebook model; the reap
    // drops g1's WITH its cell tables, the predecessor stays as the
    // reader drain window, and the pointer names the live generation's
    // PQ tables.
    import graft.pipeline.SimilarityQueries
    SimilarityQueries.reclusterCycleExecute(spark, Sf)
    val g1 = SimilarityQueries.cyclePqNames(Sf, 1)
    val g2 = SimilarityQueries.cyclePqNames(Sf, 2)
    val g3 = SimilarityQueries.cyclePqNames(Sf, 3)
    Seq(g1._1, g1._2, g1._3).foreach(t =>
      assert(!spark.catalog.tableExists(t), s"g1 table $t must be reaped"))
    (Seq(g2._1, g2._2, g2._3) ++ Seq(g3._1, g3._2, g3._3)).foreach(t =>
      assert(spark.catalog.tableExists(t), s"$t must survive"))
    // the pointer names g3's PQ tables...
    val ptr = graft.sources.ModelStore
      .read(spark, SimilarityQueries.cyclePtr(Sf)).collect()(0)
    assert((ptr.getString(4), ptr.getString(5), ptr.getString(6)) == g3)
    // ...whose base code table holds corpus + day-2, one code row per
    // vector, codes in the PqK range
    val n = Tables.embeddings(spark, Sf).count()
    val n2 = n + Tables.embeddings(spark, Sf)
      .filter(col("vec_id") % 7 === 3).count()
    val codes = spark.table(g3._1)
    assert(codes.count() == n2, "g3 codes must cover corpus + day-2")
    assert(codes.filter(col("code0") < 0 || col("code0") > 15).count() == 0)
    // day-2's re-keyed vectors are encoded (ids past the corpus)
    assert(codes.filter(col("vec_id") >= n).count() == n2 - n)
  }

  test("ingest-history compaction: delta folds into the bucketed base, truncates, and stays probe-able") {
    // the maintenance half of the growing-history story: the
    // append-shaped delta is periodically rewritten INTO the bucketed
    // base (one write-time shuffle, restoring bucket co-location for
    // every later probe) and dropped.
    import graft.pipeline.{DedupQueries, DupCorpus}
    import graft.streaming.StreamingEvents
    DedupQueries.historyStoresExecute(spark, Sf)
    val (dB, dSk, pT) = DedupQueries.ingestTables(Sf)
    Seq(dB, dSk, pT, DedupQueries.pairsBaseTable(Sf))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    val newSlice = DupCorpus.corpus(spark, Sf)
      .filter(col("doc_id") % 5 === 0).select("doc_id", "text")
    // land one accepted batch through the real sink, then compact
    StreamingEvents.dedupIngestBatch(spark, Sf)(newSlice, 0L)
    assert(spark.catalog.tableExists(dB) && spark.catalog.tableExists(dSk))
    val nNew = newSlice.count()
    val before = spark.table(DedupQueries.historyStores(Sf)._1).count()
    DedupQueries.compactIngestHistory(spark, Sf)
    assert(!spark.catalog.tableExists(dB) && !spark.catalog.tableExists(dSk),
      "delta must truncate after the fold")
    val (bandsT, skT) = DedupQueries.historyStores(Sf)
    assert(spark.table(bandsT).count() == before + nNew * 4,
      "base must absorb the delta's 4 band rows per accepted doc")
    assert(spark.table(skT).select("doc_id").distinct().count() ==
      spark.table(skT).count(), "one sketch per doc after the fold")
    // idempotent: a second compaction with no delta is a no-op
    DedupQueries.compactIngestHistory(spark, Sf)
    assert(spark.table(bandsT).count() == before + nNew * 4)
    // the compacted base serves the next batch: a redelivery of an
    // ACCEPTED (post-compact) doc is anti-joined out — no self-pairs,
    // no delta re-creation for known ids
    StreamingEvents.dedupIngestBatch(spark, Sf)(newSlice.limit(2), 1L)
    if (spark.catalog.tableExists(dB))
      assert(spark.table(dB).count() == 0, "redelivered ids must not re-land")
    // restore a clean slate for other suites sharing the Sf namespace
    Seq(dB, dSk, pT, DedupQueries.pairsBaseTable(Sf))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    graft.pipeline.CachePool.drop(spark, Sf, "mhHistory", "")
    DedupQueries.historyStoresExecute(spark, Sf)
  }

  test("graft_sub: elementwise residual, codegen and interpreted agree, length follows the left") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0, 2.5, -3.0), Seq(0.5, 2.5, 1.0)),
      (2L, Seq(4.0, 0.0, 1.0), Seq(1.0)) // short right: tail passes through
    ).toDF("id", "a", "b")
    val out = df.select(col("id"),
        call_function("graft_sub", col("a"), col("b")).as("r"))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    assert(out(0)._2 == Seq(0.5, 0.0, -4.0))
    assert(out(1)._2 == Seq(3.0, 0.0, 1.0))
    // interpreted path (eval) agrees with codegen
    val e = graft.functions.VectorDiff(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(1.0, 2.0), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(0.25, 1.0), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)))
    val got = e.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toDoubleArray.toSeq
    assert(got == Seq(0.75, 1.0))
  }

  test("cycle code tables: a probe opens only its cells' buckets of the live generation") {
    // the 100 TB property of the generation-scoped PQ layout: the code
    // tables are bucketed by cid, so stored-codes serving reads the
    // probed cells' buckets — cost ∝ nprobe/nlist of the code table,
    // never its total size — exactly like the cell tier's index scan.
    import graft.pipeline.SimilarityQueries
    SimilarityQueries.reclusterCycleExecute(spark, Sf)
    val (pqb3, _, _) = SimilarityQueries.cyclePqNames(Sf, 3)
    val nBuckets = spark.table(pqb3).select("cid").distinct().count()
    val auto = spark.conf
      .get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    try {
      spark.conf.set(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      val probe = graft.sources.BucketedStore.read(spark, pqb3)
        .filter(col("cid").isin(1, 3))
      val plan = probe.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), s"codes must ride buckets:\n$plan")
      val selected = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(plan).map(m => (m.group(1).toInt, m.group(2).toInt))
      assert(selected.exists { case (sel, total) =>
        sel >= 1 && sel <= 2 && total >= nBuckets.toInt },
        s"IN(1,3) must open <=2 buckets:\n$plan")
    } finally
      spark.conf.set(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", auto)
  }
}
