package graft

import graft.streaming.StreamingEtl
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** K2 merge idempotence + the S1/K4 streaming wrapper (SURVEY.md §5
  * items 4-5): replaying a batch must leave the metadata store
  * unchanged — the property that makes the reference's at-most-once
  * delivery and double-execute defect harmless in this engine. */
class StreamingSpec extends SparkSpec {

  private def kv(rows: Seq[(String, String, String)]) = {
    import spark.implicits._
    rows.toDF("id", "mkey", "mvalue")
  }

  test("K2 mergeKv: last-writer-wins and idempotent") {
    val store = kv(Seq(("a", "lang", "en"), ("a", "status", "ingested"),
      ("b", "lang", "es")))
    val upd = kv(Seq(("a", "status", "loaded"), ("a", "date", "01/02/2023")))
    def snap(df: org.apache.spark.sql.DataFrame): Set[(String, String, String)] =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val once = StreamingEtl.mergeKv(store, upd)
    assert(snap(once) === Set(
      ("a", "lang", "en"), ("a", "status", "loaded"), ("a", "date", "01/02/2023"),
      ("b", "lang", "es")))
    val twice = StreamingEtl.mergeKv(once, upd)
    assert(snap(twice) === snap(once))
  }

  test("streaming tumbling agg: watermark finalizes windows, batch parity") {
    import spark.implicits._
    import graft.streaming.StreamingEvents
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double)]
    def typed(df: org.apache.spark.sql.DataFrame) = df
      .toDF("ts_ms", "event_type", "value")
      .select(timestamp_millis(col("ts_ms")).as("ts"),
        col("event_type"), col("value"))
    val q = StreamingEvents.tumblingStream(typed(mem.toDF()), "1 hour")
      .writeStream.format("memory").queryName("tumb").outputMode("append").start()
    val h0 = 3600L * 1000
    val batch1 = Seq((h0 + 60000, "click", 1.5), (h0 + 120000, "view", 2.0),
      (h0 + 180000, "click", 0.5))
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      // watermark hasn't passed the window end: nothing finalized
      assert(spark.table("tumb").count() === 0)
      // advance event time 4h (watermark -> h0+3h at batch end), then 8h:
      // each watermark advance lets the engine run state-eviction
      // batches, so every window whose end <= final watermark (h0+7h)
      // is emitted — hour-1 AND the hour-5 click window; only the last
      // event's window stays open
      val batch2 = Seq((h0 + 4 * 3600000, "click", 9.0))
      mem.addData(batch2: _*)
      q.processAllAvailable()
      mem.addData((h0 + 8 * 3600000, "noop", 0.0))
      q.processAllAvailable()
      val got = spark.table("tumb").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got === Set((h0, "click", 2L, 2.0), (h0, "view", 1L, 2.0),
        (h0 + 4 * 3600000, "click", 1L, 9.0)))
      // parity: identical rows from the batch expression over the same
      // (closed-window) events
      val batch = graft.pipeline.EventQueries.tumblingAgg(typed((batch1 ++ batch2).toDF()))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(batch === got)
    } finally q.stop()
  }

  test("streaming sliding agg: 4-window fan-out, watermark finalizes, batch parity") {
    import spark.implicits._
    import graft.streaming.StreamingEvents
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double)]
    def typed(df: org.apache.spark.sql.DataFrame) = df
      .toDF("ts_ms", "event_type", "value")
      .select(timestamp_millis(col("ts_ms")).as("ts"),
        col("event_type"), col("value"))
    val q = StreamingEvents.slidingStream(typed(mem.toDF()), "1 hour")
      .writeStream.format("memory").queryName("slide").outputMode("append").start()
    val h0 = 3600L * 1000
    val m = 60000L
    val batch1 = Seq((h0 + m, "click", 1.5), (h0 + 2 * m, "view", 2.0),
      (h0 + 16 * m, "click", 0.5))
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      assert(spark.table("slide").count() === 0) // no window closed yet
      // advance event time so the watermark (h0+7h) passes every window
      // end from batch1; the advancing event's own 4 windows stay open
      mem.addData((h0 + 8 * 3600000, "noop", 0.0))
      q.processAllAvailable()
      val got = spark.table("slide").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      // each event fans out into size/slide = 4 windows; the two clicks
      // share 3 of them (15-min slide, 15 min apart)
      assert(got.count(_._2 == "click") === 5)
      assert(got.count(_._2 == "view") === 4)
      // parity: identical rows from the batch expression over the same
      // (closed-window) events
      val batch = graft.pipeline.EventQueries.slidingAgg(typed(batch1.toDF()))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(batch === got)
    } finally q.stop()
  }

  test("streaming pivot: closed hours emit wide rows once, batch parity") {
    import spark.implicits._
    import graft.streaming.StreamingEvents
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double)]
    def typed(df: org.apache.spark.sql.DataFrame) = df
      .toDF("ts_ms", "event_type", "value")
      .select(timestamp_millis(col("ts_ms")).as("ts"),
        col("event_type"), col("value"))
    val q = StreamingEvents.pivotHourlyStream(typed(mem.toDF()), "1 hour")
      .writeStream.format("memory").queryName("pvt").outputMode("append").start()
    val h0 = 3600L * 1000
    val m = 60000L
    // two event types in hour 1, one in hour 2 — the hour-1 row must
    // carry zero counts for the three absent types
    val batch1 = Seq((h0 + m, "click", 1.0), (h0 + 2 * m, "click", 1.0),
      (h0 + 3 * m, "view", 1.0), (h0 + 3600000 + m, "purchase", 2.0))
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      assert(spark.table("pvt").count() === 0) // no hour closed yet
      mem.addData((h0 + 8 * 3600000, "view", 0.0)) // watermark -> h0+7h
      q.processAllAvailable()
      val cols = Seq("hour_ms") ++ graft.pipeline.EventQueries.PivotTypes
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      val got = spark.table("pvt").select(cols.head, cols.tail: _*)
        .collect().map(key).toSet
      // (hour, click, error, purchase, signup, view)
      assert(got === Set(
        (h0, 2L, 0L, 0L, 0L, 1L),
        (h0 + 3600000, 0L, 0L, 1L, 0L, 0L)))
      // parity: the batch pivot over the same closed-hour events
      val batch = graft.pipeline.EventQueries.pivotHourlyAgg(typed(batch1.toDF()))
        .select(cols.head, cols.tail: _*).collect().map(key).toSet
      assert(batch === got)
    } finally q.stop()
  }

  test("streaming running total: ordered replay across batches, batch parity") {
    import spark.implicits._
    import graft.streaming.StreamingEvents
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, Double)]
    def typed(df: org.apache.spark.sql.DataFrame) = df
      .toDF("ts_ms", "user_id", "event_id", "value")
      .select(timestamp_millis(col("ts_ms")).as("ts"), col("user_id"),
        col("event_id"), col("value"))
    val q = StreamingEvents.runningTotalStream(typed(mem.toDF()), "1 hour")
      .toDF().writeStream.format("memory").queryName("rt")
      .outputMode("append").start()
    val h0 = 3600L * 1000
    val m = 60000L
    // user 1's second batch arrives out of order BEFORE its first-batch
    // neighbor is released: the replay must still accumulate in (ts,
    // event_id) order; two events share a timestamp to exercise the
    // event_id tie-break
    val batch1 = Seq((h0 + 3 * m, 1L, 103L, 0.25), (h0 + m, 1L, 101L, 1.111111),
      (h0 + m, 1L, 102L, 2.0), (h0 + 2 * m, 2L, 201L, 5.5))
    val batch2 = Seq((h0 + 2 * m, 1L, 104L, 0.0625)) // late but in-delay
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      mem.addData(batch2: _*)
      q.processAllAvailable()
      assert(spark.table("rt").count() === 0) // watermark still at h0+2h-delay
      mem.addData((h0 + 8 * 3600000, 9L, 999L, 0.0)) // watermark -> h0+7h
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4))
      val got = spark.table("rt").collect().map(key).toSet
      // parity: the batch window over the same released events
      val batch = graft.pipeline.EventQueries.runningTotalAgg(
        typed((batch1 ++ batch2).toDF())).collect().map(key).toSet
      assert(batch === got)
      // spot-check the interleaved order: 104 (ts h0+2m) lands between
      // 102 and 103 despite arriving a batch later
      assert(got.contains((1L, 104L, h0 + 2 * m, 3.1736, 3)))
      assert(got.contains((1L, 103L, h0 + 3 * m, 3.4236, 4)))
    } finally q.stop()
  }

  test("streaming clamped balance: ordered replay, clamps fire, fold parity") {
    import spark.implicits._
    import graft.streaming.StreamingEvents
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String, Double)]
    def typed(df: org.apache.spark.sql.DataFrame) = df
      .toDF("ts_ms", "user_id", "event_id", "event_type", "value")
      .select(timestamp_millis(col("ts_ms")).as("ts"), col("user_id"),
        col("event_id"), col("event_type"), col("value"))
    val q = StreamingEvents.clampedBalanceStream(typed(mem.toDF()), "1 hour")
      .toDF().writeStream.format("memory").queryName("cb")
      .outputMode("append").start()
    val h0 = 3600L * 1000; val m = 60000L
    // user 1: credit 10, then debits that FLOOR the balance (10 - 2 - 2
    // would stay positive, so use a big debit), then a huge credit that
    // CAPS it; event 104 arrives a batch late but lands mid-sequence
    val batch1 = Seq(
      (h0 + 1 * m, 1L, 101L, "purchase", 10.0),
      (h0 + 3 * m, 1L, 103L, "click", 100.0),   // debit 12.5 → floor
      (h0 + 4 * m, 1L, 105L, "purchase", 600.0), // credit 600 → cap
      (h0 + 2 * m, 2L, 201L, "click", 8.0))      // debit 1 → floor at 0
    val batch2 = Seq((h0 + 2 * m, 1L, 102L, "view", 16.0)) // late, debit 2
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
      mem.addData((h0 + 8 * 3600000, 9L, 999L, "view", 0.0))
      q.processAllAvailable()
      val rows = spark.table("cb").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(3), r.getLong(4),
          r.getLong(5), r.getLong(6)))
      // user 1 in (ts, id) order: 101 credit 10 → 10; 102 (late) debit
      // 2 → 8; 103 debit 12.5 → floor at 0; 105 credit 600 → cap at 500
      val u1 = rows.filter(_._1 == 1L).sortBy(_._6)
      assert(u1.map(_._2).toSeq == Seq(101L, 102L, 103L, 105L),
        s"replay order broke: ${u1.toSeq}")
      assert(u1.map(_._3).toSeq == Seq(10.0, 8.0, 0.0, 500.0))
      assert(u1.last._4 == 1L && u1.last._5 == 1L,
        "floor and cap must each have fired once for user 1")
      // user 2: one debit from zero → floored immediately
      val u2 = rows.filter(_._1 == 2L)
      assert(u2.map(_._3).toSeq == Seq(0.0) && u2.head._4 == 1L)
    } finally q.stop()
  }

  test("streaming transitions: out-of-order replay preserves sequence order, batch parity") {
    import spark.implicits._
    import graft.streaming.StreamingEvents
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String)]
    def typed(df: org.apache.spark.sql.DataFrame) = df
      .toDF("ts_ms", "user_id", "event_id", "event_type")
      .select(timestamp_millis(col("ts_ms")).as("ts"), col("user_id"),
        col("event_id"), col("event_type"))
    val q = StreamingEvents.markovStream(typed(mem.toDF()), "1 hour")
      .toDF().writeStream.format("memory").queryName("mk")
      .outputMode("append").start()
    val h0 = 3600L * 1000
    val m = 60000L
    // user 1's view at ts+2m arrives a batch late: transitions must
    // still read click->view->purchase, not click->purchase->view
    val batch1 = Seq((h0 + m, 1L, 101L, "click"), (h0 + 3 * m, 1L, 103L, "purchase"),
      (h0 + 2 * m, 2L, 201L, "browse"))
    val batch2 = Seq((h0 + 2 * m, 1L, 102L, "view"), (h0 + 4 * m, 2L, 202L, "click"))
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      mem.addData(batch2: _*)
      q.processAllAvailable()
      mem.addData((h0 + 8 * 3600000, 9L, 999L, "noop")) // advance watermark
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3))
      val got = spark.table("mk").collect().map(key).toSet
      assert(got === Set(
        (1L, 102L, "click", "view"), (1L, 103L, "view", "purchase"),
        (2L, 202L, "browse", "click")))
      // batch parity: the same released events through the batch lead
      // window produce the same (from, to) multiset
      val batchPairs = typed((batch1 ++ batch2).toDF())
        .select(col("user_id"), col("event_id"), col("event_type"),
          lag(col("event_type"), 1).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("user_id").orderBy(col("ts"), col("event_id")))
            .as("from_type"))
        .filter(col("from_type").isNotNull)
        .select(col("user_id"), col("event_id"), col("from_type"),
          col("event_type"))
        .collect().map(key).toSet
      assert(batchPairs === got)
    } finally q.stop()
  }

  test("streaming CMS sketch: cross-batch grid merge is byte-identical to batch") {
    import spark.implicits._
    import graft.streaming.StreamingEvents
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    def typed(df: org.apache.spark.sql.DataFrame) =
      df.toDF("user_id", "event_type")
    val q = StreamingEvents.cmsStream(typed(mem.toDF()))
      .writeStream.format("memory").queryName("cms")
      .outputMode("complete").start()
    val batch1 = Seq((1L, "click"), (1L, "click"), (2L, "click"), (7L, "view"))
    val batch2 = Seq((1L, "click"), (3L, "view"), (7L, "view"))
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      mem.addData(batch2: _*)
      q.processAllAvailable()
      val streamed = spark.table("cms").collect()
        .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
      val batch = StreamingEvents.cmsStream(typed((batch1 ++ batch2).toDF()))
        .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
      assert(streamed.keySet === Set("click", "view"))
      // cell-wise grid addition is order-independent, so the merged
      // streaming sketch must serialize byte-identically to the batch
      // sketch over the same rows — and probing it agrees too
      streamed.foreach { case (k, bytes) =>
        assert(java.util.Arrays.equals(bytes, batch(k)),
          s"sketch bytes diverge for $k")
      }
      val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(streamed("click")))
      assert(cms.estimateCount(1L) === 3L && cms.totalCount() === 4L)
    } finally q.stop()
  }

  test("streaming heavy-hitters serve: top-k from the CMS store meets the batch contract") {
    import spark.implicits._
    import graft.streaming.StreamingEvents
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    def typed(df: org.apache.spark.sql.DataFrame) =
      df.toDF("user_id", "event_type")
    val q = StreamingEvents.cmsStream(typed(mem.toDF()))
      .writeStream.format("memory").queryName("cms_store")
      .outputMode("complete").start()
    // skewed traffic: user 0 dominates, counts well separated at the
    // top, split across batches so the serve reads a MERGED store
    def burst(uid: Long, n: Int, t: String) = Seq.fill(n)((uid, t))
    val batch1 = burst(0L, 7, "click") ++ burst(1L, 4, "click") ++
      burst(2L, 2, "view") ++ burst(4L, 1, "view") ++ burst(5L, 1, "click")
    val batch2 = burst(0L, 5, "view") ++ burst(1L, 2, "view") ++
      burst(2L, 2, "click") ++ burst(3L, 3, "click") ++ burst(4L, 1, "click") ++
      burst(6L, 1, "view")
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      mem.addData(batch2: _*)
      q.processAllAvailable()
      val all = (batch1 ++ batch2).toDF("user_id", "event_type")
      val served = StreamingEvents.cmsServe(
        spark.table("cms_store"), all.select("user_id").distinct(), k = 5)
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      // exact truth from the batch side (the contract arm of
      // events_heavy_hitters)
      val truth = all.groupBy("user_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val n = truth.values.sum
      val budget = math.ceil(0.001 * n).toLong
      assert(served.length == 5)
      assert(served.head._1 == 0L, "the dominant key must rank first")
      // top-k keys = the exact top-k (counts separated by > budget at
      // the boundary, so the sketch cannot reorder across it)
      val exactTop = truth.toSeq.sortBy { case (id, c) => (-c, id) }
        .take(5).map(_._1).toSet
      assert(served.map(_._1).toSet == exactTop,
        s"served ${served.toSeq} vs exact top-5 $exactTop")
      // the CMS contract on every served estimate
      served.foreach { case (id, est) =>
        assert(est >= truth(id) && est <= truth(id) + budget,
          s"user $id: est=$est true=${truth(id)} budget=$budget")
      }
      // ranking is by estimate desc with user_id tie-break
      assert(served.map(_._2).toSeq == served.map(_._2).sorted.reverse.toSeq)
    } finally q.stop()
  }

  test("streaming classifier scoring: per-row fold equals the batch featurizer under the trained model") {
    import spark.implicits._
    import graft.streaming.StreamingEvents
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the weights come from the PERSISTED MODEL TABLE — the artifact a
    // streaming serve job actually loads at startup (and Round15Spec
    // pins the table equal to the trained pocket bit-for-bit)
    val w = graft.sources.ModelStore.read(spark,
        graft.pipeline.TextQueries.clfModelTable(spark, Sf))
      .orderBy("j").collect().map(_.getLong(1)).toSeq
    val mem = MemoryStream[(Long, String)]
    def typed(df: org.apache.spark.sql.DataFrame) = df.toDF("doc_id", "text")
    val q = StreamingEvents.classifierScoreStream(typed(mem.toDF()), w)
      .writeStream.format("memory").queryName("clf_stream")
      .outputMode("append").start()
    val docs = Seq(
      (1L, "the quick brown fox jumps of the wall and it is that for it"),
      (2L, "el zorro rapido salta la pared y que en un es se no de la"),
      (3L, "der schnelle fuchs springt und zu den von ist mit nicht"),
      (4L, ""), // single empty token — both paths must hash it identically
      (5L, "the the the the of of and to in is a that for it"))
    try {
      mem.addData(docs.take(3): _*)
      q.processAllAvailable()
      mem.addData(docs.drop(3): _*)
      q.processAllAvailable()
      val streamed = spark.table("clf_stream").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
      // batch mirror: the trainer's explode+groupBy featurization on the
      // same rows, scored with the same weights — distributed aggregate
      // vs per-row fold must agree exactly (integer sums, order-free)
      val hd = 16
      val feats = docs.toDF("doc_id", "text")
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
        .select(col("doc_id"),
          conv(substring(md5(concat(lit("emb:"), col("tok"))), 1, 15), 16, 10)
            .cast("long").as("h"))
        .select(col("doc_id"), pmod(col("h"), lit(hd.toLong)).as("bucket"),
          when(pmod(expr(s"h div $hd"), lit(2)) === 0, 1L)
            .otherwise(-1L).as("sgn"))
        .groupBy("doc_id")
        .agg(
          sum(when(col("bucket") === 0, col("sgn")).otherwise(0L)).as("v0"),
          (1 until hd).map(j =>
            sum(when(col("bucket") === j, col("sgn")).otherwise(0L)).as(s"v$j")): _*)
      val batch = docs.map { case (id, _) => id }.map { id =>
        val row = feats.filter(col("doc_id") === id).head()
        val score = (0 until hd).map(j => w(j) * row.getLong(1 + j)).sum
        id -> ((score, score > 0L))
      }.toMap
      assert(streamed == batch, s"streamed $streamed vs batch $batch")
    } finally q.stop()
  }

  test("streaming BPE apply: replayed stored merges equal the batch tokenizer per doc") {
    import spark.implicits._
    import graft.streaming.StreamingEvents
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the merges come from the PERSISTED MODEL TABLE — what a
    // tokenizing serve job loads at startup (Round16Spec pins the
    // table equal to the trained merge list)
    val merges = graft.pipeline.TextQueries.bpeStoredMerges(spark, Sf)
    assert(merges.nonEmpty, "training must produce merges")
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val mem = MemoryStream[(Long, String)]
    val q = StreamingEvents.bpeApplyStream(
        mem.toDF().toDF("doc_id", "text"), merges)
      .writeStream.format("memory").queryName("bpe_stream")
      .outputMode("append").start()
    try {
      mem.addData(docs.take(40): _*)
      q.processAllAvailable()
      mem.addData(docs.drop(40): _*)
      q.processAllAvailable()
      val streamed = spark.table("bpe_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(_._1).toSeq
      val batch = SparkEntry.queries("text_bpe_apply")(spark, Sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(_._1).toSeq
      assert(streamed.length == batch.length,
        s"${streamed.length} streamed vs ${batch.length} batch docs")
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming BPE apply: unseen words tokenize by replay, never dropped (OOV contract)") {
    import spark.implicits._
    import graft.streaming.StreamingEvents
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // ADVICE r12: the serving OOV semantics are REPLAY — a word the
    // trainer never saw folds its char-split sequence through whatever
    // stored merges apply (none → one subword per character). It must
    // be counted, not silently dropped like an index miss.
    val merges = graft.pipeline.TextQueries.bpeStoredMerges(spark, Sf)
    def replaySyms(w: String): Long =
      merges.foldLeft(" " + w.flatMap(c => s"$c ")) {
        case (sq, (l, r)) => sq.replace(s" $l $r ", s" $l$r ")
      }.trim.split(" ").length.toLong
    val oovText = "zzqx vrkp stream" // two unseen words + one seen
    val mem = MemoryStream[(Long, String)]
    val q = StreamingEvents.bpeApplyStream(
        mem.toDF().toDF("doc_id", "text"), merges)
      .writeStream.format("memory").queryName("bpe_oov")
      .outputMode("append").start()
    try {
      mem.addData((7000L, oovText))
      q.processAllAvailable()
      val rows = spark.table("bpe_oov").collect()
      assert(rows.length == 1)
      val r = rows.head
      assert(r.getLong(1) == 3L, s"all 3 words count: ${r.toSeq}")
      val want = oovText.split(" ").map(replaySyms).sum
      assert(r.getLong(2) == want,
        s"OOV subword count must be the replay's: got ${r.getLong(2)}, want $want")
      // merge-free unseen words decompose to one subword per char
      assert(replaySyms("zzqx") == 4L && replaySyms("vrkp") == 4L)
    } finally q.stop()
  }

  test("streaming resample: per-row copies equal the batch face under the learned mixture") {
    import spark.implicits._
    import graft.streaming.StreamingEvents
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the REAL learned multipliers, recomputed from the trajectory face
    val weights = SparkEntry.queries("text_domain_reweight")(spark, Sf)
      .filter(col("round") === 8).collect()
      .map(r => r.getString(1) -> r.getLong(3)).toMap
    val u = 1000000L / weights.size
    val mult = weights.map { case (lg, a) => lg -> a * 1000000L / u }
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
      .select(col("doc_id"), col("lang")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val mem = MemoryStream[(Long, String)]
    val q = StreamingEvents.resampleStream(
        mem.toDF().toDF("doc_id", "lang"), mult)
      .writeStream.format("memory").queryName("resample_stream")
      .outputMode("append").start()
    try {
      mem.addData(docs.take(100): _*)
      q.processAllAvailable()
      mem.addData(docs.drop(100): _*)
      q.processAllAvailable()
      val streamed = spark.table("resample_stream").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4))
      val batch = SparkEntry.queries("text_domain_resample")(spark, Sf)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4))
      assert(streamed.length == batch.length,
        s"${streamed.length} streamed vs ${batch.length} batch copies")
      assert(streamed.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("streaming ANN serve: watermark-closed top-k equals the batch IVF probe") {
    import spark.implicits._
    import graft.streaming.StreamingEvents
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val qvs = Tables.embeddings(spark, Sf).filter(col("vec_id") < 4)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1))
    val mem = MemoryStream[(Long, Long, Seq[Double])]
    def typed(df: org.apache.spark.sql.DataFrame) =
      df.toDF("ts_ms", "query_id", "qv")
        .select(timestamp_millis(col("ts_ms")).as("ts"),
          col("query_id"), col("qv"))
    val q = StreamingEvents.annServeStream(
        typed(mem.toDF()), spark, Sf, k = 5, delayMs = 3600000L)
      .writeStream.format("memory").queryName("ann_serve")
      .outputMode("append").start()
    try {
      mem.addData(qvs.take(2).map { case (id, v) => (1000L, id, v) }: _*)
      q.processAllAvailable()
      mem.addData(qvs.drop(2).map { case (id, v) => (2000L, id, v) }: _*)
      q.processAllAvailable()
      // sentinel far past every query's ts + delay: advances the
      // watermark so the open queries close and emit (the no-data
      // micro-batch then fires the timeouts)
      mem.addData((1000L + 3600000L * 3, 999L, qvs.head._2))
      q.processAllAvailable()
      val got = spark.table("ann_serve").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val queries = Tables.embeddings(spark, Sf).filter(col("vec_id") < 4)
        .select(col("vec_id").as("query_id"),
          col("embedding").cast("array<double>").as("qv"))
      val want = graft.pipeline.SimilarityQueries
        .ivfProbeRanks(spark, Sf, queries, 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == want, s"streamed $got vs batch $want")
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("streaming upserted ANN serve: parity with the batch base-union-delta probe") {
    import spark.implicits._
    import graft.streaming.StreamingEvents
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // query ids 9 and 19 are DELTA vectors (vec_id % 10 == 9): the
    // streamed tier must serve candidates from the delta table too
    val qvs = Tables.embeddings(spark, Sf)
      .filter(col("vec_id").isin(2L, 9L, 19L))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1))
    val mem = MemoryStream[(Long, Long, Seq[Double])]
    def typed(df: org.apache.spark.sql.DataFrame) =
      df.toDF("ts_ms", "query_id", "qv")
        .select(timestamp_millis(col("ts_ms")).as("ts"),
          col("query_id"), col("qv"))
    val q = StreamingEvents.annServeUpsertedStream(
        typed(mem.toDF()), spark, Sf, k = 5, delayMs = 3600000L)
      .writeStream.format("memory").queryName("ann_serve_up")
      .outputMode("append").start()
    try {
      mem.addData(qvs.map { case (id, v) => (1000L, id, v) }: _*)
      q.processAllAvailable()
      mem.addData((1000L + 3600000L * 3, 999L, qvs.head._2))
      q.processAllAvailable()
      val got = spark.table("ann_serve_up").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val queries = Tables.embeddings(spark, Sf)
        .filter(col("vec_id").isin(2L, 9L, 19L))
        .select(col("vec_id").as("query_id"),
          col("embedding").cast("array<double>").as("qv"))
      val want = graft.pipeline.SimilarityQueries
        .upsertedServe(spark, Sf, queries, 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == want, s"streamed $got vs batch $want")
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("streaming ANN serve through the generation pointer: serves the published tier") {
    import spark.implicits._
    import graft.streaming.StreamingEvents
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // a maintenance cycle ran and atomically published generation 2
    // (delta folded in); a serving job booting now resolves the pointer
    // and must answer exactly like the full-corpus IVF index — query 19
    // was a DELTA vector pre-fold, now served from the base arm
    graft.pipeline.SimilarityQueries.reclusterExecute(spark, Sf)
    val qvs = Tables.embeddings(spark, Sf)
      .filter(col("vec_id").isin(3L, 19L))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1))
    val mem = MemoryStream[(Long, Long, Seq[Double])]
    def typed(df: org.apache.spark.sql.DataFrame) =
      df.toDF("ts_ms", "query_id", "qv")
        .select(timestamp_millis(col("ts_ms")).as("ts"),
          col("query_id"), col("qv"))
    val q = StreamingEvents.annServePtrStream(
        typed(mem.toDF()), spark, Sf, k = 5, delayMs = 3600000L)
      .writeStream.format("memory").queryName("ann_serve_ptr")
      .outputMode("append").start()
    try {
      mem.addData(qvs.map { case (id, v) => (1000L, id, v) }: _*)
      q.processAllAvailable()
      mem.addData((1000L + 3600000L * 3, 999L, qvs.head._2))
      q.processAllAvailable()
      val got = spark.table("ann_serve_ptr").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val queries = Tables.embeddings(spark, Sf)
        .filter(col("vec_id").isin(3L, 19L))
        .select(col("vec_id").as("query_id"),
          col("embedding").cast("array<double>").as("qv"))
      // post-publish, pointer serving ≡ the full-corpus IVF probe
      val want = graft.pipeline.SimilarityQueries
        .ivfProbeRanks(spark, Sf, queries, 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == want, s"streamed $got vs batch $want")
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("streaming ingest dedup: probe pairs equal the batch incremental cross pairs") {
    import spark.implicits._
    import graft.streaming.StreamingEvents
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    requireFixture(SfMid) // sf0.001 has too few natural cross-split dups
    // history indexed once (bands + sketches); the stream never
    // re-reads history text
    graft.pipeline.DedupQueries.historyStoresExecute(spark, SfMid)
    val newDocs = graft.pipeline.DupCorpus.corpus(spark, SfMid)
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val mem = MemoryStream[(Long, Long, String)]
    def typed(df: org.apache.spark.sql.DataFrame) =
      df.toDF("ts_ms", "doc_id", "text")
        .select(timestamp_millis(col("ts_ms")).as("ts"),
          col("doc_id"), col("text"))
    val q = StreamingEvents.dedupProbeStream(
        typed(mem.toDF()), spark, SfMid, delayMs = 3600000L)
      .writeStream.format("memory").queryName("dedup_probe")
      .outputMode("append").start()
    try {
      val (b1, b2) = newDocs.splitAt(newDocs.length / 2)
      mem.addData(b1.map { case (id, t) => (1000L, id, t) }: _*)
      q.processAllAvailable()
      mem.addData(b2.map { case (id, t) => (2000L, id, t) }: _*)
      q.processAllAvailable()
      val got = spark.table("dedup_probe").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // batch incremental output restricted to new-vs-history pairs
      // (new-vs-new is the batch face's half of the division of labor)
      val want = SparkEntry.queries("dedup_minhash_incremental")(spark, SfMid)
        .filter((col("doc_a") % 5 === 0) =!= (col("doc_b") % 5 === 0))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(got == want,
        s"streamed ${got.size} vs batch ${want.size}; " +
          s"+${(got diff want).take(3)} -${(want diff got).take(3)}")
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("streaming ANN through the CYCLED pointer: serves generation 3 after the reap") {
    import spark.implicits._
    import graft.streaming.StreamingEvents
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // two full upsert→recluster cycles ran and g1 was reaped; a
    // serving job booting NOW must resolve the pointer to g3 and
    // answer from it — the online tier follows the pointer across
    // every flip, and can never reference the reaped generation
    graft.pipeline.SimilarityQueries.reclusterCycleExecute(spark, Sf)
    val ptrT = graft.pipeline.SimilarityQueries.cyclePtr(Sf)
    val qvs = Tables.embeddings(spark, Sf)
      .filter(col("vec_id").isin(3L, 7L))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1))
    val mem = MemoryStream[(Long, Long, Seq[Double])]
    def typed(df: org.apache.spark.sql.DataFrame) =
      df.toDF("ts_ms", "query_id", "qv")
        .select(timestamp_millis(col("ts_ms")).as("ts"),
          col("query_id"), col("qv"))
    val q = StreamingEvents.annServePtrStreamAt(
        typed(mem.toDF()), spark, ptrT, k = 5, delayMs = 3600000L)
      .writeStream.format("memory").queryName("ann_serve_cyc")
      .outputMode("append").start()
    try {
      mem.addData(qvs.map { case (id, v) => (1000L, id, v) }: _*)
      q.processAllAvailable()
      mem.addData((1000L + 3600000L * 3, 999L, qvs.head._2))
      q.processAllAvailable()
      val got = spark.table("ann_serve_cyc").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val want = graft.pipeline.SimilarityQueries
        .serveVia(spark, Sf, ptrT)
        .filter(col("query_id").isin(3L, 7L))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == want, s"streamed $got vs batch $want")
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("streaming hybrid retrieval: parity with the catalog-served batch RRF tier") {
    import spark.implicits._
    import graft.streaming.StreamingEvents
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // boot prerequisites: the lexical index is persisted and a
    // maintenance cycle has published a generation pointer — the
    // streaming job itself neither tokenizes nor trains
    graft.pipeline.SearchQueries.searchIndexExecute(spark, Sf)
    graft.pipeline.SimilarityQueries.reclusterExecute(spark, Sf)
    val nq = graft.pipeline.SearchQueries.QueryTerms.size
    val qvs = Tables.embeddings(spark, Sf)
      .filter(col("vec_id") < nq)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val mem = MemoryStream[(Long, Long, Seq[Double], Seq[String])]
    def typed(df: org.apache.spark.sql.DataFrame) =
      df.toDF("ts_ms", "query_id", "qv", "terms")
        .select(timestamp_millis(col("ts_ms")).as("ts"),
          col("query_id"), col("qv"), col("terms"))
    val q = StreamingEvents.hybridServeStream(
        typed(mem.toDF()), spark, Sf, delayMs = 3600000L)
      .writeStream.format("memory").queryName("hyb_serve")
      .outputMode("append").start()
    try {
      mem.addData(graft.pipeline.SearchQueries.QueryTerms.map {
        case (qid, terms) => (1000L, qid.toLong, qvs(qid.toLong), terms)
      }: _*)
      q.processAllAvailable()
      // watermark-advancing sentinel (its own state stays open, unemitted)
      mem.addData((1000L + 3600000L * 3, 999L, qvs(0L), Seq.empty[String]))
      q.processAllAvailable()
      def row(r: org.apache.spark.sql.Row) =
        (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue,
          if (r.isNullAt(2)) None else Some(r.getAs[Number](2).intValue),
          if (r.isNullAt(3)) None else Some(r.getAs[Number](3).intValue),
          r.getDouble(4))
      val got = spark.table("hyb_serve").collect().map(row).toSet
      val want = SparkEntry.queries("search_hybrid_stored")(spark, Sf)
        .collect().map(row).toSet
      assert(got == want,
        s"streamed ${got.size} vs batch ${want.size}; " +
          s"+${(got diff want).take(3)} -${(want diff got).take(3)}")
      assert(got.size == want.size && got.nonEmpty)
      // state hygiene — the O(open queries) claim: every served
      // query's fusion state was removed at close, so only the
      // sentinel's remains
      val stateRows = q.recentProgress.reverse
        .find(_.stateOperators.nonEmpty)
        .map(_.stateOperators.map(_.numRowsTotal).sum)
      assert(stateRows.exists(_ <= 1L),
        s"state must drain to the open sentinel, got $stateRows")
    } finally q.stop()
  }

  test("hybrid stream state bound: the lexical accumulator stays at LexKeep under 100x postings") {
    // VERDICT r13 top item: the hybrid stream's lexical state grew
    // O(distinct docs matching any query term). The bounded fold must (a) never hold more than
    // LexKeep entries no matter how long the posting stream is, and
    // (b) keep EXACTLY the arm's true top-20 — same scores, same
    // (score desc, doc asc) order — as the unbounded accumulator.
    import graft.streaming.StreamingEvents.{foldLexTop, LexKeep}
    val n = LexKeep * 100 // a stop-word-heavy query: 2000 matching docs
    // deterministic pseudo-random decimal contributions, several per doc
    def contribs(seed: Int) = (0 until n * 3).map { i =>
      val doc = (i * 31 + seed) % n
      (doc.toLong, BigDecimal(((i * 7919 + seed * 104729) % 10000) + 1) / 1000)
    }
    // stream them through the fold in many small "micro-batches", with
    // each doc's contributions kept within one batch (the contract:
    // a query's postings co-arrive with its row)
    val perDoc = contribs(42).groupBy(_._1).map { case (d, xs) =>
      (d, xs.map(_._2).sum) }.toList
    val batches = perDoc.grouped(37).toList
    val kept = batches.foldLeft(List.empty[(Long, BigDecimal)]) {
      (st, b) =>
        val next = foldLexTop(st, b)
        assert(next.size <= LexKeep, s"state grew to ${next.size}")
        next
    }
    assert(kept.size == LexKeep)
    // exactness: equals the unbounded accumulator's top-20
    val want = perDoc.sortWith { case ((d1, s1), (d2, s2)) =>
      val c = s1.compare(s2); if (c != 0) c > 0 else d1 < d2 }
      .take(LexKeep)
    assert(kept == want, s"bounded fold diverged:\n$kept\nvs\n$want")
  }

  test("replay watermark contract: a beyond-delay row drops, in-delay rows release in order, a quiet key drains on its timeout") {
    // one replay face (the running total) pins the watermark contract
    // every replay face shares
    import spark.implicits._
    import graft.streaming.StreamingEvents
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, Double)]
    val q = StreamingEvents.runningTotalStream(mem.toDF()
        .toDF("ts_ms", "user_id", "event_id", "value")
        .select(timestamp_millis(col("ts_ms")).as("ts"), col("user_id"),
          col("event_id"), col("value")), "1 hour")
      .toDF().writeStream.format("memory").queryName("rt_wm")
      .outputMode("append").start()
    val h0 = 3600L * 1000 * 24
    val m = 60000L
    def got = spark.table("rt_wm").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(4))).toSet
    val user1 = Set((1L, 11L, 1), (1L, 12L, 2), (1L, 13L, 3))
    try {
      // user 1: event 13 first, then 11 and 12 one batch later — late,
      // but within the 1-hour delay of the high-water mark (h0+30m)
      mem.addData((h0 + 30 * m, 1L, 13L, 1.0))
      q.processAllAvailable()
      mem.addData((h0 + 10 * m, 1L, 11L, 1.0), (h0 + 20 * m, 1L, 12L, 1.0))
      q.processAllAvailable()
      assert(got.isEmpty, "nothing is behind the watermark yet")
      // user 9 moves the high-water mark to h0+3h, the watermark to
      // h0+2h (a second batch at the same time makes that watermark the
      // previous batch's). User 1 sends nothing more, yet its buffer
      // drains on its timeout, replayed in event-time order.
      mem.addData((h0 + 180 * m, 9L, 91L, 1.0))
      q.processAllAvailable()
      mem.addData((h0 + 180 * m, 9L, 92L, 1.0))
      q.processAllAvailable()
      assert(got == user1)
      // arriving more than the delay behind the high-water mark (user
      // 1's event 14) or exactly at the previous batch's watermark
      // (user 2's event 21, Spark's `ts <= watermark`): both dropped.
      // Two later batches move the watermark past both, so a buffered
      // row would have been released.
      mem.addData((h0 + 40 * m, 1L, 14L, 1.0), (h0 + 120 * m, 2L, 21L, 1.0))
      q.processAllAvailable()
      mem.addData((h0 + 600 * m, 9L, 93L, 1.0))
      q.processAllAvailable()
      mem.addData((h0 + 600 * m, 9L, 94L, 1.0))
      q.processAllAvailable()
      assert(got == user1 ++ Set((9L, 91L, 1), (9L, 92L, 2)))
    } finally q.stop()
  }

  test("streaming SCD2: closed intervals match the batch history's closed rows") {
    import spark.implicits._
    import graft.streaming.StreamingEvents
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String)]
    def typed(df: org.apache.spark.sql.DataFrame) = df
      .toDF("ts_ms", "user_id", "event_id", "event_type")
      .select(timestamp_millis(col("ts_ms")).as("ts"), col("user_id"),
        col("event_id"), col("event_type"))
    val q = StreamingEvents.stateHistoryStream(typed(mem.toDF()), "1 hour")
      .toDF().writeStream.format("memory").queryName("scd2")
      .outputMode("append").start()
    val h0 = 3600L * 1000
    val m = 60000L
    // user 1: click-run (2 events, one arriving a batch late) → view →
    // click again: three islands, two closed; the late event must land
    // INSIDE the first run, not start a new one
    val batch1 = Seq((h0 + m, 1L, 101L, "click"), (h0 + 3 * m, 1L, 103L, "view"),
      (h0 + 5 * m, 1L, 105L, "click"))
    val batch2 = Seq((h0 + 2 * m, 1L, 102L, "click"))
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      mem.addData(batch2: _*)
      q.processAllAvailable()
      mem.addData((h0 + 8 * 3600000, 9L, 999L, "noop")) // advance watermark
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getString(1),
        r.getLong(2), r.getLong(3), r.getLong(4))
      val got = spark.table("scd2").collect().map(key).toSet
      assert(got === Set(
        (1L, "click", h0 + m, h0 + 3 * m, 2L),
        (1L, "view", h0 + 3 * m, h0 + 5 * m, 1L)))
      // parity: the batch gaps-and-islands formulation over the same
      // released events — its non-null valid_to rows ARE the closed
      // history the stream emitted
      val wRow = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val wIsl = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("island"))
      val prevType = lag(col("event_type"), 1).over(wRow)
      val batchClosed = typed((batch1 ++ batch2).toDF())
        .withColumn("island", sum(
          when(prevType.isNull || prevType =!= col("event_type"), 1L)
            .otherwise(0L)).over(wRow.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
        .groupBy("user_id", "island", "event_type")
        .agg(min(unix_millis(col("ts"))).as("from_ms"),
          count(lit(1)).as("n_events"))
        .select(col("user_id"), col("event_type"), col("from_ms"),
          lead(col("from_ms"), 1).over(wIsl).as("to_ms"), col("n_events"))
        .filter(col("to_ms").isNotNull)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(batchClosed === got)
    } finally q.stop()
  }

  test("stream-static anomaly join: live events flagged against batch stats") {
    import spark.implicits._
    import graft.streaming.StreamingEvents
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // batch-computed stats: historical values for one type with
    // mean=10, std=~1; the stream then carries one inlier and one
    // far outlier of that type (plus a type absent from the stats,
    // which must pass through unflagged via the inner join)
    val hist = (1L to 9L).map(i => (i, "click", 8.0 + (i % 5)))
      .toDF("event_id", "event_type", "value")
    val stats = graft.pipeline.EventQueries.anomalyStats(hist)
    val mem = MemoryStream[(Long, String, Double)]
    val q = StreamingEvents.anomalyStream(
      mem.toDF().toDF("event_id", "event_type", "value"), stats)
      .writeStream.format("memory").queryName("anom").outputMode("append").start()
    try {
      mem.addData((100L, "click", 9.5), (101L, "click", 50.0),
        (102L, "view", 1000.0))
      q.processAllAvailable()
      val got = spark.table("anom").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got === Set((101L, "click")),
        "only the far outlier of a known type is flagged")
      // parity: the batch face over the same rows and the same stats
      val batch = graft.pipeline.EventQueries.flagAnomalies(
        Seq((100L, "click", 9.5), (101L, "click", 50.0), (102L, "view", 1000.0))
          .toDF("event_id", "event_type", "value"), stats)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(batch === got)
    } finally q.stop()
  }

  test("stream-static seasonal anomaly: closed cells probe the batch profile") {
    import spark.implicits._
    import graft.streaming.StreamingEvents
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // batch-trained profile: hour 1 of 'click' has mean 11, σ=2 over
    // 4 days (counts 10,10,10,14); hour 2 is constant (σ=0 — the gate
    // must never flag it, whatever arrives)
    val hist = Seq(
      (0L, 1, 10L), (1L, 1, 10L), (2L, 1, 10L), (3L, 1, 14L),
      (0L, 2, 7L), (1L, 2, 7L), (2L, 2, 7L), (3L, 2, 7L))
      .toDF("day_num", "hr", "cnt").withColumn("event_type", lit("click"))
    val profile = graft.pipeline.EventQueries.seasonalProfile(hist)
    val mem = MemoryStream[(Long, String)]
    def typed(df: org.apache.spark.sql.DataFrame) = df
      .toDF("ts_ms", "event_type")
      .select(timestamp_millis(col("ts_ms")).as("ts"), col("event_type"))
    val q = StreamingEvents.seasonalAnomalyStream(typed(mem.toDF()), profile)
      .writeStream.format("memory").queryName("seas").outputMode("append")
      .start()
    val h1 = 3600L * 1000
    try {
      // hour-1 cell: 20 click events → z = (20−11)/2 = 4.5 — a spike;
      // hour-2 cell: 30 events into the σ=0 hour — must NOT flag
      val spikes = (1 to 20).map(i => (h1 + i * 1000L, "click"))
      val flat = (1 to 30).map(i => (2 * h1 + i * 1000L, "click"))
      mem.addData(spikes ++ flat: _*)
      q.processAllAvailable()
      mem.addData((12 * h1, "noop")) // advance the watermark: close both
      q.processAllAvailable()
      val got = spark.table("seas").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3),
          r.getDouble(4))).toSet
      assert(got === Set(("click", 0L, 1, 20L, 4.5)))
      // parity: the batch gate over the same closed cells
      val cells = Seq((0L, 1, 20L), (0L, 2, 30L))
        .toDF("day_num", "hr", "cnt").withColumn("event_type", lit("click"))
      val batch = graft.pipeline.EventQueries
        .flagSeasonalCells(cells, profile)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2),
          r.getLong(3), r.getDouble(4))).toSet
      assert(batch === got)
    } finally q.stop()
  }

  test("streaming lifecycle: day classes across batches, batch parity") {
    import spark.implicits._
    import graft.streaming.StreamingEvents
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    def typed(df: org.apache.spark.sql.DataFrame) = df
      .toDF("ts_ms", "user_id")
      .select(timestamp_millis(col("ts_ms")).as("ts"), col("user_id"))
    val q = StreamingEvents.lifecycleStream(typed(mem.toDF()), "2 hours")
      .writeStream.format("memory").queryName("lc").outputMode("append")
      .start()
    val day = 86400000L
    // user 1: days 0,1,3 (new, retained, resurrected) — split across
    // micro-batches; user 2: day 1 only (new); a second event on an
    // already-released day must emit nothing
    val b1 = Seq((0 * day + 1000, 1L), (1 * day + 1000, 2L))
    val b2 = Seq((1 * day + 2000, 1L), (0 * day + 5000, 1L))
    val b3 = Seq((3 * day + 1000, 1L))
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      mem.addData(b3: _*); q.processAllAvailable()
      mem.addData((30 * day, 99L)); q.processAllAvailable() // advance wm
      val got = spark.table("lc").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      val expect = Set((1L, 0L, "new"), (1L, 1L, "retained"),
        (1L, 3L, "resurrected"), (2L, 1L, "new"))
      assert(got === expect)
      // parity: the batch classification over the same released days
      val ud = (b1 ++ b2 ++ b3).map { case (ts, u) => (u, ts / day) }
        .distinct.toDF("user_id", "day_num")
      val batch = graft.pipeline.EventQueries.lifecycleClassed(ud)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .toSet
      assert(batch === got)
    } finally q.stop()
  }

  test("streaming session windows: cross-batch merge, watermark emission, batch parity") {
    import spark.implicits._
    import graft.streaming.StreamingEvents
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double)]
    def typed(df: org.apache.spark.sql.DataFrame) = df
      .toDF("ts_ms", "user_id", "value")
      .select(timestamp_millis(col("ts_ms")).as("ts"),
        col("user_id"), col("value"))
    val q = StreamingEvents.sessionStream(typed(mem.toDF()), "1 hour")
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    val t0 = 1000L * 3600 * 24
    val h = 3600L * 1000
    try {
      // one session fed across TWO micro-batches (state must merge)
      mem.addData((t0, "u1", 1.0))
      q.processAllAvailable()
      mem.addData((t0 + h, "u1", 2.0))
      q.processAllAvailable()
      assert(spark.table("sess").count() === 0) // still open
      // far-future event pushes the watermark past session end + gap
      mem.addData((t0 + 20 * h, "u1", 0.5))
      q.processAllAvailable()
      val got = spark.table("sess").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
      assert(got === Set(("u1", t0, t0 + h + 6 * h, 2L, 3.0)))
      // parity with the batch expression over the same events
      val batch = graft.pipeline.EventQueries.sessionAgg(
        typed(Seq((t0, "u1", 1.0), (t0 + h, "u1", 2.0)).toDF())).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
      assert(batch === got)
    } finally q.stop()
  }

  test("streaming as-of join: out-of-order buffering, timeout drain, batch parity") {
    import spark.implicits._
    import graft.streaming.StreamingEvents
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String, Long, Double)]
    def typed(df: org.apache.spark.sql.DataFrame) = df
      .toDF("ts_ms", "user_id", "event_type", "event_id", "value")
      .select(timestamp_millis(col("ts_ms")).as("ts"), col("user_id"),
        col("event_type"), col("event_id"), col("value"))
    val q = StreamingEvents.asofStream(typed(mem.toDF()), "1 hour")
      .writeStream.format("memory").queryName("asof").outputMode("append").start()
    val t0 = 1000L * 3600 * 24
    val m = 60000L
    // arrival order deliberately scrambles event time: the purchase
    // arrives first, then an OLDER click in a later micro-batch — the
    // buffer must hold the purchase until the watermark proves no
    // earlier click can still arrive
    val b1 = Seq((t0 + 120 * m, 1L, "purchase", 10L, 5.0),
      (t0 + 60 * m, 1L, "click", 11L, 1.0))
    val b2 = Seq((t0 + 90 * m, 1L, "click", 12L, 2.0), // between click 11 and purchase 10
      (t0 + 600 * m, 2L, "click", 13L, 0.0)) // advances the watermark
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      assert(spark.table("asof").count() === 0) // everything still buffered
      mem.addData(b2: _*)
      q.processAllAvailable()
      // watermark is now t0+540m; user 1's timeout fires on the next
      // batch even though user 1 gets no more events. (The advancing
      // events must be clicks/purchases: the type filter is pushed
      // below the watermark node, so other types don't move it.)
      mem.addData((t0 + 700 * m, 2L, "click", 14L, 0.0))
      q.processAllAvailable()
      val got = spark.table("asof").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getDouble(5))).toSet
      // purchase 10 matches click 12 (latest <= its ts), not click 11
      assert(got === Set((10L, 1L, t0 + 120 * m, 12L, t0 + 90 * m, 2.0)))
      // parity: the batch as-of operator over the same events
      val batchRows = graft.pipeline.EventQueries
        .asofAgg(typed((b1 ++ b2).toDF())).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getDouble(5))).toSet
      assert(batchRows === got)
    } finally q.stop()
  }

  test("streaming interval join: cross-batch band matches, batch parity") {
    import spark.implicits._
    import graft.streaming.StreamingEvents
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String, Long, Double)]
    def typed(df: org.apache.spark.sql.DataFrame) = df
      .toDF("ts_ms", "user_id", "event_type", "event_id", "value")
      .select(timestamp_millis(col("ts_ms")).as("ts"), col("user_id"),
        col("event_type"), col("event_id"), col("value"))
    val q = StreamingEvents.intervalJoinStream(typed(mem.toDF()), "1 hour")
      .writeStream.format("memory").queryName("band").outputMode("append").start()
    val t0 = 1000L * 3600 * 24
    val m = 60000L
    // clicks at t0+10m and t0+50m; purchase at t0+65m arrives in a
    // LATER micro-batch — the join state must hold the clicks across
    // batches; the t0+10m click is 55m before the purchase (in band),
    // a click at t0-30m... use one out-of-band click too
    val b1 = Seq((t0 + 10 * m, 1L, "click", 1L, 0.0),
      (t0 + 50 * m, 1L, "click", 2L, 0.0),
      (t0 - 120 * m, 1L, "click", 3L, 0.0)) // 2h before: out of band
    val b2 = Seq((t0 + 65 * m, 1L, "purchase", 10L, 9.0),
      (t0 + 30 * m, 2L, "click", 4L, 0.0)) // other user: no match
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      val got = spark.table("band").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
      // purchase 10 pairs with clicks 1 and 2 (both within its hour),
      // not click 3 (out of band) or click 4 (other user)
      assert(got === Set(
        (10L, 1L, t0 + 65 * m, 1L, t0 + 10 * m),
        (10L, 1L, t0 + 65 * m, 2L, t0 + 50 * m)))
      // parity with the batch expression over the same events
      val ev = typed((b1 ++ b2).toDF())
      val batch = graft.pipeline.EventQueries.intervalPairs(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
      assert(batch === got)
    } finally q.stop()
  }

  test("streaming exact dedup: first arrival wins, state bounded by watermark") {
    import spark.implicits._
    import graft.streaming.StreamingEvents
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String)]
    def typed(df: org.apache.spark.sql.DataFrame) = df
      .toDF("ts_ms", "doc_id", "text")
      .select(timestamp_millis(col("ts_ms")).as("ts"), col("doc_id"), col("text"))
    val q = StreamingEvents.dedupStream(typed(mem.toDF()), "1 hour")
      .writeStream.format("memory").queryName("ddup").outputMode("append").start()
    val t0 = 1000L * 3600 * 24
    val m = 60000L
    try {
      mem.addData((t0, 1L, "alpha"), (t0 + m, 2L, "beta"), (t0 + 2 * m, 3L, "alpha"))
      q.processAllAvailable()
      // duplicate within one batch suppressed
      assert(spark.table("ddup").select("doc_id").as[Long].collect().toSet
        === Set(1L, 2L))
      // duplicate across batches, still inside the watermark: suppressed
      mem.addData((t0 + 30 * m, 4L, "beta"))
      q.processAllAvailable()
      assert(spark.table("ddup").count() === 2)
      // advance the watermark far past the remembered keys, then replay
      // "alpha": the key has been evicted, so it re-admits — the
      // documented state-bounding trade
      mem.addData((t0 + 600 * m, 5L, "gamma"))
      q.processAllAvailable()
      mem.addData((t0 + 610 * m, 6L, "alpha"))
      q.processAllAvailable()
      val docs = spark.table("ddup").select("doc_id").as[Long].collect().toSet
      assert(docs === Set(1L, 2L, 5L, 6L))
    } finally q.stop()
  }

  test("U4 withRetry: transient faults retried with capped exponential backoff") {
    val waits = scala.collection.mutable.ArrayBuffer[Long]()
    var calls = 0
    // two transient faults, then success — reference policy 1s, 2s, ...
    val out = StreamingEtl.withRetry(sleep = waits.append(_)) {
      calls += 1
      if (calls <= 2) throw new java.io.IOException(s"transient $calls")
      "ok"
    }
    assert(out === "ok" && calls === 3)
    assert(waits.toSeq === Seq(1000L, 2000L))
    // backoff caps at 30s and the 6th failure (maxRetries=5) is rethrown
    waits.clear(); calls = 0
    val ex = intercept[java.io.IOException] {
      StreamingEtl.withRetry(sleep = waits.append(_)) {
        calls += 1
        throw new java.io.IOException("always")
      }: Unit
    }
    assert(ex.getMessage === "always" && calls === 6)
    assert(waits.toSeq === Seq(1000L, 2000L, 4000L, 8000L, 16000L))
    // non-transient faults propagate immediately
    calls = 0
    intercept[IllegalArgumentException] {
      StreamingEtl.withRetry(sleep = _ => ()) {
        calls += 1
        throw new IllegalArgumentException("fatal")
      }: Unit
    }
    assert(calls === 1)
  }

  test("K2 partition-scoped merge: untouched pid dirs are not rewritten") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft-store") + "/meta"
    val store = new StreamingEtl.ParquetMetadataStore(spark, dir)
    store.merge((0 until 40).map(i => (s"item-$i", "status", "ingested"))
      .toDF("id", "mkey", "mvalue"))
    def snapshot(): Map[String, Seq[(String, Long, Long)]] =
      new java.io.File(dir).listFiles.filter(_.getName.startsWith("pid="))
        .map { d =>
          d.getName ->
            d.listFiles.map(f => (f.getName, f.length, f.lastModified))
              .sortBy(_._1).toSeq
        }.toMap
    val before = snapshot()
    store.merge(Seq(("item-7", "status", "loaded")).toDF("id", "mkey", "mvalue"))
    val after = snapshot()
    // same hash the store uses: pid = pmod(xxhash64(id), 16)
    val touched = "pid=" + spark.range(1)
      .select(pmod(xxhash64(lit("item-7")), lit(16L)).cast("int"))
      .head.getInt(0)
    assert(before.contains(touched))
    assert(after(touched) !== before(touched)) // touched pid rewritten
    (before.keySet - touched).foreach(p => assert(after(p) === before(p)))
    // and the merge itself took effect with everything else intact
    val rows = store.read().collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(rows.contains(("item-7", "status", "loaded")))
    assert(rows.size === 40)
  }

  test("S1/K4 streaming wrapper: MemoryStream -> foreachBatch merge, replay-idempotent") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = SparkSpec.tempDir("graft-stream")
    val store = new StreamingEtl.ParquetMetadataStore(spark, s"$dir/meta")

    val mem = MemoryStream[String]
    val raw = mem.toDF().select(col("value"))
    val q = StreamingEtl.runStream(spark, raw, store, s"$dir/ckpt")
    def msg(i: Int) =
      s"""{"recordId":"rec-$i","parentId":"p","sessionId":"s","documentType":"APPRAISAL","key":"Tasaciones/doc_$i.pdf"}"""
    try {
      mem.addData(msg(1), msg(2), "not json")
      q.processAllAvailable()
      val s1 = store.read().collect().map(_.mkString("|")).sorted.toSeq
      assert(s1.nonEmpty)
      assert(s1.exists(_.startsWith("item-rec-1|document_type|APPRAISAL")))
      // invalid JSON row was quarantined, not merged
      assert(!s1.exists(_.contains("null")))

      // replay the same payload (second delivery of the same messages)
      mem.addData(msg(1), msg(2))
      q.processAllAvailable()
      val s2 = store.read().collect().map(_.mkString("|")).sorted.toSeq
      assert(s2 === s1)
    } finally q.stop()
  }

  test("streaming A/B readout: decimal moments merge across batches, batch parity") {
    import spark.implicits._
    import graft.streaming.StreamingEvents
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String, Double)]
    def typed(df: org.apache.spark.sql.DataFrame) = df
      .toDF("ts_ms", "user_id", "event_type", "value")
      .select(timestamp_millis(col("ts_ms")).as("ts"),
        col("user_id"), col("event_type"), col("value"))
    val q = StreamingEvents.abTestStream(typed(mem.toDF()))
      .writeStream.format("memory").queryName("abt").outputMode("complete")
      .start()
    // cohorts split on user parity; batch 2 adds mass to BOTH cohorts
    // of "click" so the cross-batch decimal merge is exercised
    val b1 = Seq((1000L, 1L, "click", 10.5), (2000L, 2L, "click", 12.25),
      (3000L, 3L, "view", 1.0), (4000L, 4L, "view", 2.5))
    val b2 = Seq((5000L, 5L, "click", 11.75), (6000L, 6L, "click", 9.0),
      (7000L, 7L, "view", 3.25), (8000L, 8L, "view", 0.5))
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val got = graft.pipeline.EventQueries
        .abTestFinish(spark.table("abt"))
        .collect().map(_.mkString("|")).sorted.toSeq
      val want = graft.pipeline.EventQueries.abTestFinish(
        typed((b1 ++ b2).toDF()).groupBy("event_type")
          .agg(graft.pipeline.EventQueries.abTestAggs.head,
            graft.pipeline.EventQueries.abTestAggs.tail: _*))
        .collect().map(_.mkString("|")).sorted.toSeq
      assert(got === want,
        "streaming moments + stateless finish must equal the batch readout")
      assert(got.nonEmpty && got.forall(_.split('|').length == 6))
    } finally q.stop()
  }

  test("streaming CUPED: per-user moments merge across batches, batch parity") {
    import spark.implicits._
    import graft.streaming.StreamingEvents
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String, Double)]
    def typed(df: org.apache.spark.sql.DataFrame) = df
      .toDF("ts_ms", "user_id", "event_type", "value")
      .select(timestamp_millis(col("ts_ms")).as("ts"),
        col("user_id"), col("event_type"), col("value"))
    val midMs = 5000L
    val q = StreamingEvents.cupedStream(typed(mem.toDF()), midMs)
      .writeStream.format("memory").queryName("cup").outputMode("complete")
      .start()
    // users 1-4 span both cohorts (parity split); batch 2 adds pre- AND
    // post-period mass to users already in state, so the cross-batch
    // decimal merge on BOTH moments is exercised
    val b1 = Seq((1000L, 1L, "c", 10.5), (6000L, 1L, "c", 12.25),
      (2000L, 2L, "c", 8.0), (7000L, 2L, "c", 9.5),
      (1500L, 3L, "c", 4.75), (8000L, 4L, "c", 6.0))
    val b2 = Seq((3000L, 1L, "c", 2.5), (9000L, 2L, "c", 1.25),
      (4000L, 3L, "c", 3.0), (9500L, 3L, "c", 7.5),
      (2500L, 4L, "c", 5.0))
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val got = StreamingEvents.cupedServe(spark.table("cup"))
        .collect().map(_.mkString("|")).toSeq
      val want = graft.pipeline.EventQueries.cupedFinish(
        typed((b1 ++ b2).toDF()).withColumn("mid_ms", lit(midMs))
          .groupBy("user_id")
          .agg(graft.pipeline.EventQueries.cupedUserAggs.head,
            graft.pipeline.EventQueries.cupedUserAggs.tail: _*))
        .collect().map(_.mkString("|")).toSeq
      assert(got === want,
        "streamed moments + stateless finish must equal the batch readout")
      assert(got.length == 1 && got.head.split('|').length == 6)
    } finally q.stop()
  }

  test("streaming audience overlap: cross-batch distinct state, batch parity") {
    import spark.implicits._
    import graft.streaming.StreamingEvents
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    def typed(df: org.apache.spark.sql.DataFrame) = df
      .toDF("event_type", "user_id")
    val q = StreamingEvents.audienceDistinctStream(typed(mem.toDF()))
      .writeStream.format("memory").queryName("aud").outputMode("append")
      .start()
    // batch 2 repeats pairs from batch 1 (cross-batch dedup state must
    // swallow them) and adds genuinely new ones
    val b1 = Seq(("click", 1L), ("click", 2L), ("view", 1L), ("view", 3L))
    val b2 = Seq(("click", 1L), ("view", 1L), ("click", 3L), ("buy", 2L))
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val store = spark.table("aud")
      // exactly-once accretion: the store IS the distinct relation
      assert(store.count() == store.distinct().count(),
        "cross-batch duplicate leaked into the distinct store")
      val got = StreamingEvents.audienceOverlapServe(store)
        .collect().map(_.mkString("|")).toSeq
      val want = graft.pipeline.EventQueries.audienceOverlapOf(
        typed((b1 ++ b2).toDF()).distinct())
        .collect().map(_.mkString("|")).toSeq
      assert(got === want,
        "accreted distinct store + serve must equal the batch matrix")
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("streaming scd2 enrichment: interval-correct state, no future leak") {
    import spark.implicits._
    import graft.streaming.StreamingEvents
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, Double)]
    def typed(df: org.apache.spark.sql.DataFrame) = df
      .toDF("ts_ms", "user_id", "event_id", "value")
      .select(timestamp_millis(col("ts_ms")).as("ts"), col("user_id"),
        col("event_id"), col("value"))
    // user 1's dimension history: silver [1000, 5000), gold [5000, ∞)
    val versions = Seq(
      (1L, "silver", 1000L, Some(5000L)),
      (1L, "gold", 5000L, None: Option[Long]))
      .toDF("user_id", "event_type", "valid_from_ms", "valid_to_ms")
    val q = StreamingEvents.scd2JoinStream(typed(mem.toDF()), versions)
      .writeStream.format("memory").queryName("s2s").outputMode("append")
      .start()
    try {
      // one fact per regime: before any version, mid-silver, the gold
      // boundary instant (inclusive), and a late-arriving silver fact
      // AFTER gold already exists — is_current would mislabel it gold
      mem.addData((500L, 1L, 1L, 1.0), (2000L, 1L, 2L, 1.0),
        (5000L, 1L, 3L, 1.0))
      q.processAllAvailable()
      mem.addData((4999L, 1L, 4L, 1.0))
      q.processAllAvailable()
      val got = spark.table("s2s").collect()
        .map(r => r.getLong(1) -> (if (r.isNullAt(4)) "none" else r.getString(4)))
        .toMap
      assert(got == Map(1L -> "none", 2L -> "silver",
        3L -> "gold", 4L -> "silver"), s"wrong states: $got")
    } finally q.stop()
  }

  test("streaming velocity: live flags match the batch RANGE frame, ties peer-counted") {
    import spark.implicits._
    import graft.streaming.StreamingEvents
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long)]
    def typed(df: org.apache.spark.sql.DataFrame) = df
      .toDF("ts_ms", "user_id", "event_id")
      .select(timestamp_millis(col("ts_ms")).as("ts"), col("user_id"),
        col("event_id"))
    val q = StreamingEvents.velocityFlagsStream(typed(mem.toDF()), "1 hour")
      .toDF().writeStream.format("memory").queryName("vf")
      .outputMode("append").start()
    val h0 = 3600L * 1000; val m = 60000L
    // user 1: a burst of 3 within the hour (events 2 sharing one
    // timestamp — the peer-group case), then a 4th far outside the
    // window; event 103 arrives a batch late but lands mid-burst
    val batch1 = Seq((h0, 1L, 101L), (h0 + 10 * m, 1L, 102L),
      (h0 + 10 * m, 1L, 104L), (h0, 2L, 201L))
    val batch2 = Seq((h0 + 5 * m, 1L, 103L)) // late, still in-delay
    val batch3 = Seq((h0 + 300 * m, 1L, 105L)) // far outside the hour
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
      mem.addData(batch3: _*); q.processAllAvailable()
      mem.addData((h0 + 12 * 3600000, 9L, 999L)); q.processAllAvailable()
      val got = spark.table("vf").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
      // batch ground truth: the same RANGE frame over all events
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("tms"))
        .rangeBetween(-3600000L, 0L)
      val want = typed((batch1 ++ batch2 ++ batch3).toDF())
        .select(col("user_id"), col("event_id"),
          unix_millis(col("ts")).as("tms"))
        .withColumn("n", count(lit(1)).over(w))
        .filter(col("n") >= 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
      assert(got == want, s"streamed flags $got != batch frame $want")
      // the tie group at h0+10m must peer-count: both members see n=4
      // (101, 103, and both of 102/104 are within the hour)
      assert(got.contains((1L, 102L, 4L)) && got.contains((1L, 104L, 4L)))
      // the isolated late event never flags
      assert(!got.exists(_._2 == 105L))
    } finally q.stop()
  }

  test("streaming attribution: cross-batch argmin/argmax merge, tie-break, batch parity") {
    import spark.implicits._
    import graft.streaming.StreamingEvents
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String)]
    def typed(df: org.apache.spark.sql.DataFrame) = df
      .toDF("ts_ms", "event_id", "user_id", "event_type")
      .select(timestamp_millis(col("ts_ms")).as("ts"),
        col("event_id"), col("user_id"), col("event_type"))
    val q = StreamingEvents.attributionStream(typed(mem.toDF()))
      .writeStream.format("memory").queryName("attr").outputMode("complete")
      .start()
    // user 1: the true first event arrives in a LATER micro-batch
    // (cross-batch argmin merge); user 2: two events share a timestamp
    // and the lower event_id must win the tie on both ends
    val b1 = Seq((5000L, 10L, 1L, "view"), (7000L, 11L, 2L, "click"),
      (7000L, 12L, 2L, "buy"))
    val b2 = Seq((1000L, 13L, 1L, "signup"), (9000L, 14L, 1L, "buy"))
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val got = spark.table("attr")
        .select("user_id", "n_events", "first_type", "last_type", "span_ms")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getString(3), r.getLong(4))).sortBy(_._1).toSeq
      assert(got === Seq(
        (1L, 3L, "signup", "buy", 8000L),
        (2L, 2L, "click", "buy", 0L)),
        "first tie falls to the lower event_id, last to the higher; merge crosses batches")
      // batch parity on the identical rows
      val statics = typed((b1 ++ b2).toDF())
      val want = statics.groupBy("user_id")
        .agg(graft.pipeline.EventQueries.attributionAggs.head,
          graft.pipeline.EventQueries.attributionAggs.tail: _*)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getString(3), r.getLong(4))).sortBy(_._1).toSeq
      assert(got === want, "streaming complete-mode result must equal batch agg")
    } finally q.stop()
  }

  test("streaming windowed quantiles: sketch merges across batches, batch parity") {
    import spark.implicits._
    import graft.streaming.StreamingEvents
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double)]
    def typed(df: org.apache.spark.sql.DataFrame) = df
      .toDF("ts_ms", "event_type", "value")
      .select(timestamp_millis(col("ts_ms")).as("ts"),
        col("event_type"), col("value"))
    val q = StreamingEvents.quantilesStream(typed(mem.toDF()), "1 hour")
      .writeStream.format("memory").queryName("wq").outputMode("append").start()
    val h0 = 3600L * 1000
    // one hour-1 population delivered ACROSS TWO micro-batches — the
    // emitted percentiles must come from the merged sketch, not either
    // partial alone
    val batch1 = (1 to 40).map(i => (h0 + i * 1000L, "click", i.toDouble))
    val batch2 = (41 to 80).map(i => (h0 + i * 1000L, "click", i.toDouble)) ++
      Seq((h0 + 30 * 60000L, "view", 7.0))
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      mem.addData(batch2: _*)
      q.processAllAvailable()
      assert(spark.table("wq").count() === 0,
        "no window may emit before the watermark passes its end")
      mem.addData((h0 + 8 * 3600000L, "noop", 0.0))
      q.processAllAvailable()
      val got = spark.table("wq").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSet
      // parity: the batch expression over the same closed-window events
      val want = graft.pipeline.EventQueries
        .windowedQuantilesAgg(typed((batch1 ++ batch2).toDF()))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSet
      assert(got === want, "merged streaming sketch must equal batch sketch")
      // sanity on the merged population: 80 clicks, p50 element ≈ 40
      val click = got.find(_._2 == "click").get
      assert(click._3 === 80L)
      assert(math.abs(click._4 - 40.0) <= 1.0, s"merged p50 was ${click._4}")
    } finally q.stop()
  }

  test("streaming summary maintenance: cross-batch fold equals batch aggregate") {
    import spark.implicits._
    import graft.streaming.StreamingEvents
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, String, Double, Double)]
    def typed(df: org.apache.spark.sql.DataFrame) = df
      .toDF("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice")
    val q = StreamingEvents.summaryStream(typed(mem.toDF()))
      .writeStream.format("memory").queryName("summ")
      .outputMode("complete").start()
    // the same group fed ACROSS micro-batches: the emitted partials must
    // be the fold of both, and a group untouched by batch 2 must persist
    val batch1 = Seq(("A", "F", 10.0, 100.5), ("A", "F", 5.25, 90.0),
      ("R", "O", 1.0, 7.75))
    val batch2 = Seq(("A", "F", 2.5, 200.25), ("N", "O", 3.0, 50.0))
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      mem.addData(batch2: _*)
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getString(0), r.getString(1), r.getDecimal(2).toPlainString,
          r.getDouble(3), r.getDouble(4), r.getLong(5))
      val got = spark.table("summ").collect().map(key).toSet
      val want = graft.queries.InfraQueries
        .summaryPartials(typed((batch1 ++ batch2).toDF()))
        .collect().map(key).toSet
      assert(got === want, "streamed fold must equal the batch aggregate")
      assert(got.exists(t => t._1 == "A" && t._3 == "17.750000"),
        s"A/F decimal sum must fold across batches, got $got")
    } finally q.stop()
  }

  test("streaming dau/mau: day sketches close at the watermark, fold serves exact-at-this-scale estimates") {
    import spark.implicits._
    import graft.streaming.StreamingEvents
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    def typed(df: org.apache.spark.sql.DataFrame) = df
      .toDF("ts_ms", "user_id")
      .select(timestamp_millis(col("ts_ms")).as("ts"), col("user_id"))
    val q = StreamingEvents.dauMauStream(typed(mem.toDF()), "1 hour")
      .writeStream.format("memory").queryName("daumau")
      .outputMode("append").start()
    val day = 86400000L
    // 3 days with controlled overlap, split across micro-batches so
    // day-2's sketch must fold users from two batches in state:
    //   day1 = users 1..50, day2 = 26..75, day3 = 51..150
    val b1 = (1L to 50L).map(u => (day + u * 1000, u)) ++
      (26L to 60L).map(u => (2 * day + u * 1000, u))
    val b2 = (61L to 75L).map(u => (2 * day + u * 1000, u)) ++
      (51L to 150L).map(u => (3 * day + u * 1000, u))
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      // watermark still inside day 3: nothing closed yet after b1+b2
      mem.addData(b2: _*)
      q.processAllAvailable()
      assert(spark.table("daumau").count() <= 2)
      mem.addData((6 * day, 9999L)) // flush: watermark passes day 3
      q.processAllAvailable()
      val partials = spark.table("daumau").filter(col("day_ms") <= 3 * day)
      assert(partials.count() === 3, "one closed sketch per day")
      val served = StreamingEvents.dauMauServe(partials).collect()
        .map(r => r.getLong(0) / day ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      // ground truth: dau 50/50/100, trailing-30d mau 50/75/150; at
      // these cardinalities the lgK=14 sketch is in sparse mode and the
      // estimate is exact, so the contract here is equality — the
      // documented 5% band is for dense-mode scale
      val want = Map(1L -> ((50L, 50L, 1000L)),
        2L -> ((50L, 75L, 666L)), 3L -> ((100L, 150L, 666L)))
      assert(served === want)
      // partial parity: the streamed sketches (folded across
      // micro-batches in state) estimate identically to a one-shot
      // batch build over the same events — register-max merge is
      // arrival-order-independent
      val batchEst = graft.pipeline.EventQueries
        .dayUserSketch(typed((b1 ++ b2).toDF()))
        .select(col("day_ms"), hll_sketch_estimate(col("user_hll")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val streamEst = partials
        .select(col("day_ms"), hll_sketch_estimate(col("user_hll")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamEst === batchEst)
    } finally q.stop()
  }

  test("streaming funnel: out-of-order + equal-ts peers, batch parity") {
    import spark.implicits._
    import graft.streaming.StreamingEvents
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String)]
    def typed(df: org.apache.spark.sql.DataFrame) = df
      .toDF("ts_ms", "user_id", "event_id", "event_type")
      .select(timestamp_millis(col("ts_ms")).as("ts"), col("user_id"),
        col("event_id"), col("event_type"))
    val q = StreamingEvents.funnelStream(typed(mem.toDF()), "1 hour")
      .toDF().writeStream.format("memory").queryName("fn")
      .outputMode("append").start()
    val h0 = 3600L * 1000
    val m = 60000L
    // user 1: click at the SAME ms as signup (RANGE-peer: qualifies),
    // purchase later; the qualifying click arrives a batch LATE —
    // replay must still produce the full funnel.
    // user 2: click BEFORE signup (never qualifies) → signup only;
    //         the later purchase has no qualified click → no row.
    // user 3: click+purchase, no signup → nothing.
    val batch1 = Seq((h0, 1L, 101L, "signup"), (h0 + 5 * m, 1L, 103L, "purchase"),
      (h0 + m, 2L, 201L, "click"), (h0 + 2 * m, 2L, 202L, "signup"),
      (h0 + 3 * m, 2L, 203L, "purchase"),
      (h0 + m, 3L, 301L, "click"), (h0 + 2 * m, 3L, 302L, "purchase"))
    val batch2 = Seq((h0, 1L, 102L, "click"))
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
      // advance watermark: the sentinel must be a funnel type (other
      // types are filtered BELOW the watermark node by pushdown); it
      // itself stays pending (beyond the final watermark), so no row
      mem.addData((h0 + 9 * 3600000, 9L, 999L, "signup"))
      q.processAllAvailable()
      val got = spark.table("fn").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(got === Set(
        (1L, "signup", h0), (1L, "click", h0), (1L, "purchase", h0 + 5 * m),
        (2L, "signup", h0 + 2 * m)))
      // batch parity: pivot the stage log into the batch face's row
      // shape and compare against events_funnel's semantics applied to
      // the same released events
      val streamed = spark.table("fn")
        .groupBy("user_id").pivot("stage", Seq("signup", "click", "purchase"))
        .agg(first("stage_ms"))
        .select(col("user_id"), col("signup").as("signup_ms"),
          coalesce(col("click"), lit(-1L)).as("click_ms"),
          coalesce(col("purchase"), lit(-1L)).as("purchase_ms"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(streamed === Set((1L, h0, h0, h0 + 5 * m),
        (2L, h0 + 2 * m, -1L, -1L)))
    } finally q.stop()
  }

  test("streaming retention store/serve: closed-day partials equal batch") {
    import spark.implicits._
    import graft.streaming.StreamingEvents
    import graft.pipeline.EventQueries
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    def typed(df: org.apache.spark.sql.DataFrame) = df
      .toDF("ts_ms", "user_id")
      .select(timestamp_millis(col("ts_ms")).as("ts"), col("user_id"))
    val q = StreamingEvents.retentionStore(typed(mem.toDF()), "1 hour")
      .writeStream.format("memory").queryName("rstore")
      .outputMode("append").start()
    val day = 86400000L
    // d0: users 1,2,3 (user 1 twice — the store must still emit one
    // row); d1: users 1,3; d2: user 3 only; user 2 churns after d0
    val rows = Seq((0L, 1L), (3600000L, 1L), (7200000L, 2L), (10L, 3L),
      (day + 60000L, 1L), (day + 120000L, 3L),
      (2 * day + 60000L, 3L))
    try {
      mem.addData(rows: _*); q.processAllAvailable()
      mem.addData((5L * day, 9L)); q.processAllAvailable() // close all days
      val stored = spark.table("rstore")
      val served = StreamingEvents.retentionServe(stored)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toList
      val batch = EventQueries.retentionOf(
        typed(rows.toDF()).select(col("user_id"),
          unix_millis(date_trunc("day", col("ts"))).as("day_ms")).distinct())
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toList
      assert(served === batch)
      assert(batch.map(t => (t._2, t._3)) === List((3L, 2L), (2L, 1L), (1L, 0L)))
      // the SAME store serves the cohort triangle and the streak
      // histogram — both finishes shared verbatim with the batch faces
      val ud = typed(rows.toDF()).select(col("user_id"),
        expr("unix_millis(date_trunc('day', ts)) div 86400000").as("day_num"))
        .distinct()
      val cmServed = StreamingEvents.cohortMatrixServe(stored)
        .collect().map(_.toSeq).toList
      val cmBatch = EventQueries.cohortMatrixOf(ud)
        .collect().map(_.toSeq).toList
      assert(cmServed === cmBatch && cmBatch.nonEmpty)
      val skServed = StreamingEvents.streaksServe(stored)
        .collect().map(_.toSeq).toList
      val skBatch = EventQueries.streaksOf(ud).collect().map(_.toSeq).toList
      // streaks: user 1 d0-d1 → 2, user 2 d0 → 1, user 3 d0-d2 → 3
      assert(skServed === skBatch && skBatch.nonEmpty)
    } finally q.stop()
  }

  test("streaming curation: first failing stage at ingest, cross-batch exact dedup") {
    import spark.implicits._
    import graft.streaming.StreamingEvents
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String)]
    def typed(df: org.apache.spark.sql.DataFrame) = df
      .toDF("ts_ms", "doc_id", "text")
      .select(timestamp_millis(col("ts_ms")).as("ts"), col("doc_id"),
        col("text"), length(col("text")).cast("long").as("n_chars"))
    val q = StreamingEvents.curationStream(typed(mem.toDF()), 3600000L)
      .toDF().writeStream.format("memory").queryName("cur")
      .outputMode("append").start()
    // 32 distinct tokens incl. stopwords: passes every quality gate
    val good = ("the of and to in is a that for it".split(" ") ++
      (1 to 22).map(i => s"w$i")).mkString(" ")
    val h0 = 3600L * 1000
    try {
      mem.addData((h0, 10L, good), (h0 + 1000, 11L, good),
        (h0 + 2000, 12L, "tiny"))
      q.processAllAvailable()
      // same text a batch later, still within the dedup TTL
      mem.addData((h0 + 60000, 13L, good))
      q.processAllAvailable()
      mem.addData((h0 + 9 * 3600000, 99L, good + " sentinel"))
      q.processAllAvailable()
      val got = spark.table("cur").collect()
        .map(r => (r.getLong(0), r.getString(1))).toMap
      assert(got(10L) == "kept", "first arrival must keep")
      assert(got(11L) == "exact_dup" && got(13L) == "exact_dup",
        "same-batch and cross-batch re-arrivals must label exact_dup")
      assert(got(12L) == "quality", "the short doc fails the gate first")
      // the stage predicate is the BATCH funnel's own expression — a
      // quality-failing doc must also fail it in the batch face's terms
      val batchQf = typed(Seq((h0, 12L, "tiny")).toDF())
        .select(graft.pipeline.DedupQueries.qualityFailExpr).head().getBoolean(0)
      assert(batchQf, "batch predicate disagrees with streamed label")
    } finally q.stop()
  }

  test("streaming LTV store/serve: closed-day revenue partials equal batch") {
    import spark.implicits._
    import graft.streaming.StreamingEvents
    import graft.pipeline.EventQueries
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String, Double)]
    def typed(df: org.apache.spark.sql.DataFrame) = df
      .toDF("ts_ms", "user_id", "event_type", "value")
      .select(timestamp_millis(col("ts_ms")).as("ts"), col("user_id"),
        col("event_type"), col("value"))
    val q = StreamingEvents.ltvStore(typed(mem.toDF()), "1 hour")
      .writeStream.format("memory").queryName("ltvstore")
      .outputMode("append").start()
    val day = 86400000L
    // user 1 acquired d0 by a BROWSE (no spend), buys on d1 and d2
    // (two purchases d2); user 2 acquired d1, buys same day — cohorts
    // at distinct acquisition days, offsets 1 and 2 exercised, and a
    // zero-revenue partial must feed acquisition without making a cell
    val rows = Seq((0L, 1L, "browse", 99.0), (day + 60000L, 1L, "purchase", 10.5),
      (2 * day + 1000L, 1L, "purchase", 2.25), (2 * day + 2000L, 1L, "purchase", 1.25),
      (day + 5000L, 2L, "purchase", 7.0), (day + 6000L, 2L, "browse", 3.0))
    try {
      mem.addData(rows: _*); q.processAllAvailable()
      mem.addData((5L * day, 9L, "browse", 0.0)); q.processAllAvailable()
      val served = StreamingEvents.ltvServe(spark.table("ltvstore"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4))).toList
      val batch = EventQueries.ltvOf(
        EventQueries.ltvPartialsOf(typed(rows.toDF())))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4))).toList
      assert(served === batch)
      // cohort d0 (user 1): offset 1 → 10.5, offset 2 → 3.5 cum 14.0;
      // cohort d1 (user 2): offset 0 → 7.0
      assert(batch === List((0L, 1L, 1L, 10.5, 10.5),
        (0L, 2L, 2L, 3.5, 14.0), (1L, 0L, 1L, 7.0, 7.0)))
    } finally q.stop()
  }
}
