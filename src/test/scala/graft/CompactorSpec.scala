package graft

import graft.sources.Compactor
import org.apache.spark.sql.functions._
import java.nio.file.Files

class CompactorSpec extends SparkSpec {

  test("compaction merges small files, preserves data, sizes from bytes") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft-compact") + "/store"
    // accrete 40 micro-batch-sized files
    (0 until 40).foreach { i =>
      Seq.tabulate(50)(j => (i * 50L + j, s"row-$i-$j")).toDF("id", "v")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val beforeRows = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(beforeRows.size === 2000)
    // target sized so the 40 files collapse to a handful
    val perFile = Files.list(java.nio.file.Paths.get(dir)).iterator()
    val (nBefore, nAfter) = Compactor.compact(spark, dir, targetBytes = 16 * 1024)
    assert(nBefore === 40)
    assert(nAfter < 10 && nAfter >= 1, s"got $nAfter files")
    val afterRows = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(afterRows === beforeRows)
    // re-compaction never grows the store (it may shrink once more:
    // larger row groups compress better, dropping the byte-derived
    // file count) and keeps the data intact
    val (b2, a2) = Compactor.compact(spark, dir, targetBytes = 16 * 1024)
    assert(b2 === nAfter && a2 <= nAfter)
    assert(spark.read.parquet(dir).count() === 2000)
  }

  test("compaction recovers from a crashed predecessor's leftovers") {
    import spark.implicits._
    val base = SparkSpec.tempDir("graft-compact-crash")
    val dir = base + "/store"
    (0 until 10).foreach { i =>
      Seq.tabulate(20)(j => (i * 20L + j, s"r-$i-$j")).toDF("id", "v")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val rows = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    // simulate a compactor that died mid-swap: a stale tmp dir with
    // garbage data and a stale old dir both survive
    Seq(1L -> "stale").toDF("id", "v").write
      .parquet(base + "/.store.compact-tmp")
    Seq(2L -> "staler").toDF("id", "v").write
      .parquet(base + "/.store.compact-old")
    val (nb, na) = Compactor.compact(spark, dir, targetBytes = 16 * 1024)
    assert(nb === 10 && na >= 1)
    // the rewrite used the LIVE store, not the stale tmp, and both
    // leftover dirs are gone
    assert(spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet === rows)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(base + "/.store.compact-tmp")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(base + "/.store.compact-old")))
  }

  test("metadata store compaction collapses per-pid fan-out, read unchanged") {
    import spark.implicits._
    import graft.streaming.StreamingEtl
    val dir = SparkSpec.tempDir("graft-store-compact") + "/meta"
    val store = new StreamingEtl.ParquetMetadataStore(spark, dir)
    // disable AQE for the merge so the shuffle keeps its full task
    // width and every pid receives files from several writer tasks —
    // the fan-out shape a real (non-coalesced) store accretes
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      store.merge((0 until 600).map(i => (s"item-$i", "status", "ingested"))
        .toDF("id", "mkey", "mvalue").repartition(4))
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    def files(): Int = new java.io.File(dir).listFiles
      .filter(_.getName.startsWith("pid="))
      .map(_.listFiles.count(_.getName.endsWith(".parquet"))).sum
    val before = store.read().collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val filesBefore = files()
    store.compact()
    val pidDirs = new java.io.File(dir).listFiles
      .filter(_.getName.startsWith("pid=")).length
    assert(files() === pidDirs, "each pid collapses to one file at this size")
    assert(files() < filesBefore)
    val after = store.read().collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(after === before)
    // the store still merges correctly post-compaction
    store.merge(Seq(("item-7", "status", "loaded")).toDF("id", "mkey", "mvalue"))
    assert(store.read().filter(col("id") === "item-7")
      .select("mvalue").as[String].collect().toSeq === Seq("loaded"))
  }
}
