package graft

import org.apache.spark.sql.functions._

/** Round-21 pins: the Compactor crash roll-forward and its K2
  * consumers (VERDICT r16 top item — the third, SILENT instance of
  * the two-rename recover gap), the self-driving metadata-store
  * compaction (VERDICT r16 #2), and the unified [[graft.sources
  * .SwapStore]] roll-forward all three swap modules delegate to
  * (VERDICT r16 #5). */
class Round21Spec extends SparkSpec {

  private def fsOf(p: String) = new org.apache.hadoop.fs.Path(p)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Simulate a compactor that died BETWEEN the two swap renames:
    * the dir is gone, the only complete copy sits parked at the
    * dot-prefixed old path, and (optionally) the staged rewrite
    * survives at the tmp path. */
  private def parkMidCompact(dir: String, withTmp: Boolean = true): Unit = {
    val fs = fsOf(dir)
    val root = new org.apache.hadoop.fs.Path(dir)
    val old = new org.apache.hadoop.fs.Path(
      root.getParent, "." + root.getName + ".compact-old")
    if (withTmp) {
      val tmp = new org.apache.hadoop.fs.Path(
        root.getParent, "." + root.getName + ".compact-tmp")
      // the staged rewrite completed before the crash: same rows
      fs.delete(tmp, true)
      spark.read.parquet(dir).coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
    }
    assert(fs.rename(root, old), s"crash simulation: park $dir")
  }

  test("Compactor.recover promotes a parked store; compact() itself recovers first") {
    import spark.implicits._
    val base = SparkSpec.tempDir("graft-r21-comp")
    val dir = base + "/store"
    (0 until 6).foreach { i =>
      Seq.tabulate(20)(j => (i * 20L + j, s"r-$i-$j")).toDF("id", "v")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val rows = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows.size === 120)
    // crash between the renames → recover alone restores the store
    parkMidCompact(dir)
    assert(!fsOf(dir).exists(new org.apache.hadoop.fs.Path(dir)))
    graft.sources.Compactor.recover(spark, dir)
    assert(spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet === rows)
    // the staged leftover was discarded with the promotion
    assert(!fsOf(dir).exists(new org.apache.hadoop.fs.Path(
      base, ".store.compact-tmp")))
    // recover is idempotent on a healthy store
    graft.sources.Compactor.recover(spark, dir)
    assert(spark.read.parquet(dir).count() === 120)
    // and compact() on a freshly-parked store rolls forward FIRST —
    // before r17 it failed at listStatus on the missing root and its
    // "stale leftover" delete would have destroyed the parked copy
    parkMidCompact(dir)
    val (nb, na) = graft.sources.Compactor.compact(
      spark, dir, targetBytes = 16 * 1024)
    assert(nb >= 1 && na >= 1)
    assert(spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet === rows)
  }

  test("K2 metadata store: a pid parked mid-compaction is served by a FRESH boot read and survives a merge into that pid — no manual step") {
    // VERDICT r16 top item, consumer level. This gap was SILENT:
    // dot-prefixed parked dirs are invisible to partition discovery,
    // so read() served without the parked pid's rows (no error) and
    // the next merge() of that pid dynamic-overwrote a fresh pid=N —
    // orphaning the parked metadata permanently.
    import spark.implicits._
    import graft.streaming.StreamingEtl
    val dir = SparkSpec.tempDir("graft-r21-k2") + "/meta"
    val boot = new StreamingEtl.ParquetMetadataStore(spark, dir)
    boot.merge((0 until 200).map(i => (s"item-$i", "status", "ingested"))
      .toDF("id", "mkey", "mvalue"))
    val want = boot.read().collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(want.size === 200)
    // park the pid that item-7 hashes into (pid = pmod(xxhash64, 16))
    val pid = spark.range(1)
      .select(pmod(xxhash64(lit("item-7")), lit(16L)).cast("int"))
      .head.getInt(0)
    val pidDir = s"$dir/pid=$pid"
    val parkedRows = spark.read.parquet(pidDir).count()
    assert(parkedRows > 0, "fixture: the parked pid must hold rows")
    parkMidCompact(pidDir)
    // partition discovery would silently skip the dot-prefixed park:
    // the raw listing no longer shows pid=N
    assert(!new java.io.File(new java.net.URI(
      fsOf(dir).makeQualified(new org.apache.hadoop.fs.Path(pidDir))
        .toString).getPath).exists)
    // FRESH boot path (new store instance, read only): all rows served
    val fresh = new StreamingEtl.ParquetMetadataStore(spark, dir)
    assert(fresh.read().collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSet === want, "boot read must roll the parked pid forward")
    // park AGAIN, then merge an update INTO that pid: the parked rows
    // must be in the merge's input, not orphaned by the overwrite
    parkMidCompact(pidDir)
    val again = new StreamingEtl.ParquetMetadataStore(spark, dir)
    again.merge(Seq(("item-7", "status", "loaded"))
      .toDF("id", "mkey", "mvalue"))
    val after = again.read().collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(after === want - (("item-7", "status", "ingested")) +
      (("item-7", "status", "loaded")),
      "merge must keep every parked row and apply the update")
    // and no parked leftovers remain anywhere under the store
    assert(!new java.io.File(new java.net.URI(fsOf(dir).makeQualified(
      new org.apache.hadoop.fs.Path(dir)).toString).getPath)
      .listFiles.exists(_.getName.endsWith(".compact-old")))
  }

  test("K2 metadata store housekeeping is SELF-DRIVING: a long stream folds its own per-pid fan-out with no manual compact, replay-idempotent") {
    // VERDICT r16 #2: compact() was called from exactly one place — a
    // test — so a long-lived runStream kept every touched pid at its
    // last merge's shuffle-width file fan-out forever. The store now
    // folds its own fragmented pids at the foreachBatch boundary past
    // the merge threshold. AQE is disabled and batches are wide so
    // each merge genuinely writes multi-file pids — the fragmentation
    // shape a production store (shuffle.partitions=32+) accretes.
    import spark.implicits._
    import graft.streaming.StreamingEtl
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = SparkSpec.tempDir("graft-r21-stream")
    // fold check every 2 merges (the counter is seeded AT the
    // threshold, so folds land after batches 1, 3, 5, 7, 9), fold any
    // pid past 1 file
    val store = new StreamingEtl.ParquetMetadataStore(spark, s"$dir/meta",
      compactEveryMerges = 2, maxFilesPerPid = 1)
    def msg(i: Int) =
      s"""{"recordId":"rec-$i","parentId":"p","sessionId":"s-$i","documentType":"APPRAISAL","key":"Tasaciones/doc_$i.pdf"}"""
    def maxFilesPerPid(): Int = {
      val pids = new java.io.File(s"$dir/meta").listFiles
      if (pids == null) 0
      else pids.filter(_.getName.startsWith("pid="))
        .map(_.listFiles.count(_.getName.endsWith(".parquet")))
        .foldLeft(0)(math.max)
    }
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val mem = MemoryStream[String]
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      q = StreamingEtl.runStream(
        spark, mem.toDF().select(col("value")), store, s"$dir/ckpt")
      // 9 batches × 150 records: every merge rewrites all 16 pids
      // from a 4-task shuffle, so an unfolded pid holds several files
      (1 to 9).foreach { b =>
        mem.addData((0 until 150).map(i => msg(b * 1000 + i)): _*)
        q.processAllAvailable()
        if (b % 2 == 0)
          // no fold since the last odd batch: this batch's merge
          // fan-out is visible — the state a manual-compact store
          // would keep forever
          assert(maxFilesPerPid() >= 2,
            s"fixture: batch $b must leave real fan-out to fold")
        else
          // the self-driving fold ran INSIDE the stream at this
          // batch's foreachBatch boundary: every pid is back to one
          // scan-efficient file, no manual compact() anywhere
          assert(maxFilesPerPid() === 1,
            s"the in-stream fold must have collapsed batch $b's fan-out")
      }
      // the stream's answer is exact after all that housekeeping
      val rows = store.read().collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(rows.size === 9 * 150 * 3)
      assert(rows.contains(("item-rec-1000", "document_type", "APPRAISAL")))
      assert(rows.contains(("item-rec-9149", "session_id", "s-9149")))
      // replay: second delivery of an already-merged payload changes
      // nothing (idempotent merge, fold indifferent)
      mem.addData((0 until 150).map(i => msg(9000 + i)): _*)
      q.processAllAvailable()
      val rows2 = store.read().collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(rows2 === rows)
    } finally {
      if (q != null) q.stop()
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }
  }

  test("SwapStore.recover is the one roll-forward: promotes exactly when the root is missing and reports it") {
    import spark.implicits._
    val base = SparkSpec.tempDir("graft-r21-swap")
    val root = new org.apache.hadoop.fs.Path(base, "st")
    val fs = fsOf(base)
    Seq((1L, "a")).toDF("id", "v").write.parquet(root.toString)
    // healthy: no promotion
    assert(!graft.sources.SwapStore.recover(fs, root, ".x-old"))
    // parked: promoted, and the second call is a no-op
    val old = graft.sources.SwapStore.parkedOf(root, ".x-old")
    assert(fs.rename(root, old))
    assert(graft.sources.SwapStore.recover(fs, root, ".x-old"))
    assert(!graft.sources.SwapStore.recover(fs, root, ".x-old"))
    assert(spark.read.parquet(root.toString).count() === 1)
  }
}
