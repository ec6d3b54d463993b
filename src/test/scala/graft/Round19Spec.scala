package graft

import org.apache.spark.sql.functions._

/** Round-19 pins: crash-safe staged-swap compaction (VERDICT r14 top
  * item), cache-coherent mid-stream folds, per-append idempotence of
  * the ingest sink (ADVICE r14 medium), the Bloom-bounded known-id
  * set, and the self-driving delta fold (VERDICT r14 #3). */
class Round19Spec extends SparkSpec {

  private def locOf(table: String) = new org.apache.hadoop.fs.Path(
    spark.sessionState.conf.warehousePath, table.toLowerCase)
  private def fs = locOf("x").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  test("BucketedStore.replace: staged swap — crash between the renames rolls forward; retry converges; stale stage discarded") {
    import spark.implicits._
    val t = "graft_r19_replace_t"
    Seq(t, t + "__stage").foreach(x =>
      graft.sources.BucketedStore.clearTable(spark, x))
    val a = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "x")
    graft.sources.BucketedStore.write(a, t, "doc_id", 2)
    // happy path: the replacement may READ the table it replaces
    val b = spark.table(t).unionByName(Seq((3L, "c")).toDF("doc_id", "x"))
    graft.sources.BucketedStore.replace(b, t, Seq("doc_id"), 2)
    assert(spark.table(t).count() == 3)
    // crash BETWEEN the two renames: the location is missing and the
    // only complete copy is parked at the dot-prefixed old path
    val loc = locOf(t)
    val old = new org.apache.hadoop.fs.Path(
      loc.getParent, "." + loc.getName + ".bkt-old")
    assert(fs.rename(loc, old), "crash simulation: park the live copy")
    graft.sources.BucketedStore.recover(spark, t)
    assert(spark.table(t).count() == 3,
      "roll-forward must restore the parked copy — history intact")
    // crash BETWEEN stage and swap: a completed stage is left behind,
    // the live table untouched; the next replace discards the stage
    // and converges
    val junk = Seq((99L, "junk")).toDF("doc_id", "x")
    junk.write.mode("overwrite").bucketBy(2, "doc_id").sortBy("doc_id")
      .format("parquet").saveAsTable(t + "__stage")
    val c = spark.table(t).unionByName(Seq((4L, "d")).toDF("doc_id", "x"))
    graft.sources.BucketedStore.replace(c, t, Seq("doc_id"), 2)
    assert(spark.table(t).orderBy("doc_id").select("doc_id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(!spark.catalog.tableExists(t + "__stage"))
    spark.sql(s"DROP TABLE IF EXISTS `$t`")
  }

  test("compaction crash anywhere leaves the history recoverable: delta survives until both replaces committed") {
    // the end-to-end durability claim: compactIngestHistory drops the
    // delta only AFTER both staged swaps committed, and each fold
    // anti-joins the delta against the base's own ids — so replaying
    // the whole compaction after a crash at ANY point converges to
    // exactly one copy of every accepted doc.
    requireFixture(SfMid)
    import graft.pipeline.{DedupQueries, DupCorpus}
    import graft.streaming.StreamingEvents
    val ns = "_cc19"
    DedupQueries.historyStoresExecute(spark, SfMid, ns)
    val (dB, dSk, pT) = DedupQueries.ingestTables(SfMid, ns)
    Seq(dB, dSk, pT, DedupQueries.pairsBaseTable(SfMid, ns))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    val newSlice = DupCorpus.corpus(spark, SfMid)
      .filter(col("doc_id") % 5 === 0).select("doc_id", "text")
    StreamingEvents.dedupIngestBatch(spark, SfMid, ns)(newSlice, 0L)
    val (bandsT, skT) = DedupQueries.historyStores(SfMid, ns)
    val nNew = newSlice.count()
    val baseBefore = spark.table(bandsT).count()
    // crash simulation: the FIRST replace (bands) committed, the
    // process died before the sketch replace — delta tables intact
    val novel = spark.table(dB).join(
      spark.table(bandsT).select("doc_id").distinct(),
      Seq("doc_id"), "left_anti")
    graft.sources.BucketedStore.replace(
      spark.table(bandsT).unionByName(novel), bandsT,
      Seq("band_idx", "k1", "k2"), 8)
    assert(spark.catalog.tableExists(dB), "delta must survive the crash")
    // replay the whole compaction: the half-folded bands add nothing
    // twice, the sketches fold now, the delta drops
    DedupQueries.compactIngestHistory(spark, SfMid, ns)
    assert(spark.table(bandsT).count() == baseBefore + nNew * 4,
      "no double-fold of the already-committed bands")
    assert(spark.table(skT).select("doc_id").distinct().count() ==
      spark.table(skT).count(), "one sketch per doc")
    assert(!spark.catalog.tableExists(dB) && !spark.catalog.tableExists(dSk))
    Seq(dB, dSk, pT, DedupQueries.pairsBaseTable(SfMid, ns))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }

  test("mid-stream compaction with NO manual cache invalidation: post-fold batches still yield exactly the incremental relation") {
    // VERDICT r14 #1/#2: compaction must invalidate its own dependents
    // (the sink's cached base-id reads via replace()'s refreshTable,
    // the Bloom model via CachePool.drop). Round18Spec had to drop by
    // hand; here the fold runs between two micro-batches with no
    // manual step and the second batch — including a redelivery of an
    // already-FOLDED doc — still produces exact pairs and no re-lands.
    requireFixture(SfMid)
    import graft.pipeline.{DedupQueries, DupCorpus}
    import graft.streaming.StreamingEvents
    val ns = "_mc19"
    DedupQueries.historyStoresExecute(spark, SfMid, ns)
    val (dB, dSk, pT) = DedupQueries.ingestTables(SfMid, ns)
    Seq(dB, dSk, pT, DedupQueries.pairsBaseTable(SfMid, ns))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    def row(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val want = SparkEntry.queries("dedup_minhash_incremental")(spark, SfMid)
      .collect().map(row).toSet
    val newSlice = DupCorpus.corpus(spark, SfMid)
      .filter(col("doc_id") % 5 === 0).select("doc_id", "text")
    val b1 = newSlice.filter(col("doc_id") % 10 === 0)
    val b2 = newSlice.filter(col("doc_id") % 10 === 5)
    StreamingEvents.dedupIngestBatch(spark, SfMid, ns)(b1, 0L)
    // the mid-stream fold — NO manual CachePool.drop, NO cache clearing
    DedupQueries.compactIngestHistory(spark, SfMid, ns)
    assert(!spark.catalog.tableExists(dSk), "fold must truncate the delta")
    // batch 2 redelivers an already-folded doc alongside the new half
    val redeliveredId = b1.agg(min("doc_id")).collect()(0).getLong(0)
    StreamingEvents.dedupIngestBatch(spark, SfMid, ns)(
      b2.unionByName(b1.filter(col("doc_id") === redeliveredId)), 1L)
    // batch 1's pairs were folded into the bucketed pairs base at the
    // mid-stream compaction; the read face unions base ∪ delta
    val got = StreamingEvents.dedupIngestPairs(spark, SfMid, ns)
      .collect().map(row).toSet
    assert(got.forall { case (a, b, _) => a < b }, "no self-pairs")
    assert(got == want,
      s"streamed ${got.size} vs batch ${want.size}; " +
        s"+${(got diff want).take(3)} -${(want diff got).take(3)}")
    // the folded-then-redelivered doc must not re-land in the delta
    assert(spark.table(dSk).filter(col("doc_id") === redeliveredId)
      .count() == 0, "folded doc re-landed: stale known-id caches")
    Seq(dB, dSk, pT, DedupQueries.pairsBaseTable(SfMid, ns))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }

  test("ingest replay after a crash BETWEEN the two delta appends: no self-pair, no double-append (ADVICE r14)") {
    // the adjudicated at-least-once hole: pairs + bands committed,
    // sketch didn't — the doc is not in the known-id set, the replay
    // re-probes it, and it collides with its OWN bands in the delta.
    // The per-target-table anti-join + the doc_a<doc_b guards must
    // absorb the replay exactly.
    requireFixture(SfMid)
    import graft.pipeline.{DedupQueries, DupCorpus}
    import graft.streaming.StreamingEvents
    val ns = "_cr19"
    DedupQueries.historyStoresExecute(spark, SfMid, ns)
    val (dB, dSk, pT) = DedupQueries.ingestTables(SfMid, ns)
    Seq(dB, dSk, pT).foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    val newSlice = DupCorpus.corpus(spark, SfMid)
      .filter(col("doc_id") % 5 === 0).select("doc_id", "text")
    val b1 = newSlice.filter(col("doc_id") % 10 === 0)
    val b2 = newSlice.filter(col("doc_id") % 10 === 5)
    StreamingEvents.dedupIngestBatch(spark, SfMid, ns)(b1, 0L)
    // crash simulation: a doc of batch 2 got its BAND rows appended
    // (and its pairs landed) but died before the sketch append
    val victim = b2.agg(min("doc_id")).collect()(0).getLong(0)
    val vBands = DedupQueries.bandRows(
      DedupQueries.shingleRowsOf(b2.filter(col("doc_id") === victim)))
    vBands.write.mode("append").format("parquet").saveAsTable(dB)
    val vBandCount = spark.table(dB)
      .filter(col("doc_id") === victim).count()
    assert(vBandCount == 4L, "fixture: the victim's 4 band rows landed")
    // the checkpoint replays batch 2 in full
    StreamingEvents.dedupIngestBatch(spark, SfMid, ns)(b2, 1L)
    assert(spark.table(dB).filter(col("doc_id") === victim).count() == 4L,
      "band rows double-appended on replay")
    assert(spark.table(dSk).filter(col("doc_id") === victim).count() == 1L,
      "sketch must land exactly once on replay")
    assert(spark.table(pT).filter(col("doc_a") === col("doc_b")).count() == 0,
      "self-collision reached the pair log")
    Seq(dB, dSk, pT).foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }

  test("self-driving compaction: the sink folds its own delta past the threshold; the pair relation stays exact") {
    // VERDICT r14 #3: nothing triggered compaction — here the sink is
    // given a 1-doc threshold, so EVERY batch ends in a fold (base
    // replaced, delta truncated, caches self-invalidated), and the
    // full streamed relation still equals dedup_minhash_incremental's.
    requireFixture(SfMid)
    import spark.implicits._
    import graft.pipeline.{DedupQueries, DupCorpus}
    import graft.streaming.StreamingEvents
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    DedupQueries.historyStoresExecute(spark, SfMid)
    val (dB, dSk, pT) = DedupQueries.ingestTables(SfMid)
    Seq(dB, dSk, pT, DedupQueries.pairsBaseTable(SfMid))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    graft.pipeline.CachePool.drop(spark, SfMid, "mhBaseBloom", "")
    def row(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val want = SparkEntry.queries("dedup_minhash_incremental")(spark, SfMid)
      .collect().map(row).toSet
    val newDocs = DupCorpus.corpus(spark, SfMid)
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val ckpt = SparkSpec.tempDir("graft-sdc-ckpt")
    val q = StreamingEvents.dedupIngestStream(
      mem.toDF().toDF("doc_id", "text"), spark, SfMid, ckpt,
      compactAtDeltaDocs = 1L)
    try {
      newDocs.grouped(math.max(newDocs.length / 3, 1)).foreach { g =>
        mem.addData(g.toIndexedSeq: _*)
        q.processAllAvailable()
        // every batch crossed the 1-doc threshold → the sink folded
        assert(!spark.catalog.tableExists(dSk) ||
          spark.table(dSk).count() == 0, "sink did not self-compact")
      }
    } finally q.stop()
    val got = StreamingEvents.dedupIngestPairs(spark, SfMid)
      .collect().map(row).toSet
    assert(got == want,
      s"streamed ${got.size} vs batch ${want.size}; " +
        s"+${(got diff want).take(3)} -${(want diff got).take(3)}")
    // the base absorbed every accepted doc (history + new slice):
    // one sketch per sketchable corpus doc (≥3 tokens), none lost,
    // none duplicated by the per-batch folds
    val (_, skT) = DedupQueries.historyStores(SfMid)
    val totalSk = DedupQueries.shingleSketches(DedupQueries.shingleRowsOf(
      DupCorpus.corpus(spark, SfMid).select(col("doc_id"), col("text"))))
      .count()
    assert(spark.table(skT).count() == totalSk,
      "compacted base must hold one sketch per corpus doc")
    // restore the boot layout for suites sharing the default namespace
    Seq(dB, dSk, pT, DedupQueries.pairsBaseTable(SfMid))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    graft.pipeline.CachePool.drop(spark, SfMid, "mhHistory", "")
    DedupQueries.historyStoresExecute(spark, SfMid)
  }

  test("residual-PQ lifecycle: generation-scoped residual tables — g1 reaped, g2 drain, g3 live; pointer names them") {
    // VERDICT r14 #2: the residual tier joins the maintenance cycle
    // exactly like the shared-codebook tier.
    import graft.pipeline.SimilarityQueries
    SimilarityQueries.reclusterCycleExecute(spark, Sf)
    val g1 = SimilarityQueries.cyclePqrNames(Sf, 1)
    val g2 = SimilarityQueries.cyclePqrNames(Sf, 2)
    val g3 = SimilarityQueries.cyclePqrNames(Sf, 3)
    Seq(g1._1, g1._2, g1._3).foreach(t =>
      assert(!spark.catalog.tableExists(t), s"g1 table $t must be reaped"))
    (Seq(g2._1, g2._2, g2._3) ++ Seq(g3._1, g3._2, g3._3)).foreach(t =>
      assert(spark.catalog.tableExists(t), s"$t must survive"))
    val ptr = graft.sources.ModelStore
      .read(spark, SimilarityQueries.cyclePtr(Sf)).collect()(0)
    assert((ptr.getString(7), ptr.getString(8), ptr.getString(9)) == g3)
    // g3's base residual-code table holds corpus + day-2
    val n = Tables.embeddings(spark, Sf).count()
    val n2 = n + Tables.embeddings(spark, Sf)
      .filter(col("vec_id") % 7 === 3).count()
    val codes = spark.table(g3._1)
    assert(codes.count() == n2, "g3 residual codes must cover corpus + day-2")
    assert(codes.filter(col("code0") < 0 || col("code0") > 15).count() == 0)
    assert(codes.filter(col("vec_id") >= n).count() == n2 - n)
  }

  test("graft_group_nearest: argmin stays inside the row's own group, ties keep the smaller code, unknown gid fails loudly") {
    import spark.implicits._
    // gid 5's two codes are EQUIDISTANT from (0.1, 0.9):
    // ‖(2,2)‖²−2·v·(2,2) = 8−4 = 4 and ‖(−1,−1)‖²−2·v·(−1,−1) = 2+2=4
    // — the strict < must keep code 0, same tie-break as the oracle's
    // ORDER BY dist, code
    val groups = Seq(
      (1, Seq((0, Seq(0.0, 1.0)), (1, Seq(1.0, 0.0)))),
      (5, Seq((0, Seq(2.0, 2.0)), (1, Seq(-1.0, -1.0)))))
    val df = Seq((1L, Seq(0.1, 0.9), 1), (2L, Seq(0.1, 0.9), 5),
      (3L, Seq(0.9, 0.1), 1)).toDF("id", "v", "gid")
    val out = df.select(col("id"),
        graft.functions.GroupedCentroidModels.nearestInGroup(
          spark, groups, col("v"), col("gid")).getField("cid").as("code"))
      .orderBy("id").collect().map(_.getInt(1)).toSeq
    assert(out == Seq(0, 0, 1),
      "row 1: own group's nearest; row 2: tie → smaller code; row 3: code 1")
    // interpreted eval agrees with the codegen'd column above
    val bc = spark.sparkContext.broadcast(
      graft.functions.GroupedCentroidModel.of(groups))
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    def evalOn(v: Seq[Double], gid: Int) =
      graft.functions.NearestInGroup(
        Literal.create(v, ArrayType(DoubleType)), Literal(gid), 0L, bc)
        .eval(null)
        .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
    assert(evalOn(Seq(0.1, 0.9), 5).getInt(1) == 0)
    assert(evalOn(Seq(0.9, 0.1), 1).getInt(1) == 1)
    // all-NaN vector: d = NaN (least()-form parity), group's first code
    val nanRow = evalOn(Seq(Double.NaN, Double.NaN), 5)
    assert(nanRow.getDouble(0).isNaN && nanRow.getInt(1) == 0)
    // a gid with no codebook family is a contract violation, not a
    // silent phantom code
    val err = intercept[Exception] {
      df.withColumn("gid", lit(3)).select(
        graft.functions.GroupedCentroidModels.nearestInGroup(
          spark, groups, col("v"), col("gid"))).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(err).exists(_.getMessage != null) &&
      causes(err).exists(c => c.getMessage != null &&
        c.getMessage.contains("no codebook group for gid 3")))
  }

  test("graft_cell_vec: broadcast centroid lookup — caller order preserved, no ordering contract, unknown cid fails loudly") {
    import spark.implicits._
    // cids deliberately NOT ascending: the lookup must not assume the
    // argmin's caller-order contract
    val cents = Seq((7, Seq(1.0, 2.0)), (2, Seq(-3.0, 0.5)), (5, Seq(0.0, 9.0)))
    val df = Seq((1L, 2), (2L, 7), (3L, 5)).toDF("id", "cid")
    val out = df.select(col("id"),
        graft.functions.CentroidModels.cellVec(spark, cents, col("cid")).as("cv"))
      .orderBy("id").collect().map(_.getSeq[Double](1)).toSeq
    assert(out == Seq(Seq(-3.0, 0.5), Seq(1.0, 2.0), Seq(0.0, 9.0)))
    val err = intercept[Exception] {
      df.withColumn("cid", lit(99)).select(
        graft.functions.CentroidModels.cellVec(spark, cents, col("cid"))).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(err).exists(c => c.getMessage != null &&
      c.getMessage.contains("unknown cid 99")))
  }
}
