package graft

import graft.queries.InfraQueries
import org.apache.spark.sql.functions._

/** The storage-layout properties the oracle compare can't see: a
  * partition-pruned scan must plan to open ONLY the matching partition
  * directory, and the CSV round trip must be byte-identity on the
  * integer/string subset it declares. */
class InfraScanSpec extends SparkSpec {

  test("materialize is write-once per (app, dataset) via the Hadoop FS API") {
    import org.apache.hadoop.fs.Path
    val first = InfraQueries.partitionedEventsPath(spark, Sf)
    val p = new Path(first)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(p), s"scratch dataset missing at $first")
    val t1 = fs.getFileStatus(p).getModificationTime
    val second = InfraQueries.partitionedEventsPath(spark, Sf)
    assert(second == first)
    assert(fs.getFileStatus(p).getModificationTime == t1,
      "repeat construction must reuse the first write, not rewrite")
  }

  test("partitioned scan prunes to the matching directory at planning time") {
    val eventsPath = InfraQueries.partitionedEventsPath(spark, Sf)
    val filtered = spark.read.parquet(eventsPath)
      .filter(col("event_type") === "click")
    // planning-time pruning: the predicate lands in PartitionFilters
    // (file-listing cut), not PushedFilters (row-group cut after open)
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"),
      s"partition predicate must prune the listing:\n$plan")
    // and the executed scan reads exactly the click partition's files
    // (inputFiles lists the unpruned base relation, so probe the scan
    // node's numFiles metric after execution instead)
    import org.apache.spark.sql.execution.FileSourceScanExec
    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan
        .collect { case f: FileSourceScanExec => f }
        .map(_.metrics("numFiles").value).sum
    }
    val clickFiles = new java.io.File(
      s"$eventsPath/event_type=click")
      .listFiles().count(_.getName.endsWith(".parquet"))
    val prunedRead = filesRead(filtered)
    val fullRead = filesRead(
      spark.read.parquet(eventsPath))
    assert(prunedRead === clickFiles.toLong,
      s"pruned scan must read exactly the click partition ($clickFiles files), read $prunedRead")
    assert(fullRead > prunedRead, "pruning must be non-vacuous")
  }

  test("min/max stats index skips non-overlapping files and loses no rows") {
    val (dataPath, statsPath) = InfraQueries.minmaxEventsPaths(spark, Sf)
    val total = new java.io.File(dataPath)
      .listFiles().count(_.getName.endsWith(".parquet"))
    val (lo, hi) = ("2024-01-08 00:00:00", "2024-01-12 00:00:00")
    val survivors = InfraQueries.minmaxSurvivors(spark, statsPath, lo, hi)
    // the index must actually skip: a ~4/30 time slice over 16
    // range-clustered files keeps only the overlapping few
    assert(survivors.nonEmpty && survivors.size < total,
      s"expected real skipping, got ${survivors.size} of $total files")
    assert(survivors.size <= 4,
      s"a 4-day slice of 30 days over $total range-clustered files " +
        s"should keep <=4, kept ${survivors.size}")
    // and skipping must be lossless: survivors + residual filter ==
    // full scan + filter, row for row
    def cnt(df: org.apache.spark.sql.DataFrame): Long = df
      .filter(col("ts") >= expr(s"TIMESTAMP '$lo'") &&
        col("ts") < expr(s"TIMESTAMP '$hi'")).count()
    assert(cnt(spark.read.parquet(survivors: _*)) ===
      cnt(spark.read.parquet(dataPath)))
  }

  test("time-sliced layouts repeat file for file: unrelated jobs in between change no boundary") {
    // SfMid: there a sampled range partitioner's bounds move with the
    // RDD id (at Sf they happened to repeat)
    requireFixture(SfMid)
    // per file: (event_type directory, ts_min, ts_max, rows), sorted
    def files(root: String) =
      spark.read.parquet(s"$root/data")
        .groupBy(input_file_name().as("file"))
        .agg(min("ts").as("lo"), max("ts").as("hi"), count(lit(1)).as("n"))
        .collect().map { r =>
          val f = r.getString(0)
          (f.split("/").find(_.startsWith("event_type=")).getOrElse(""),
            r.getTimestamp(1).getTime, r.getTimestamp(2).getTime, r.getLong(3))
        }.toSeq.sorted
    val base = SparkSpec.tempDir("graft-layout")
    val layouts = Seq[(org.apache.spark.sql.SparkSession, String, String) => Unit](
      InfraQueries.writeMinmaxLayout, InfraQueries.writeTwoLevelLayout)
    try {
      layouts.zipWithIndex.foreach { case (write, i) =>
        write(spark, SfMid, s"$base/a$i")
        // unrelated jobs move every JVM-wide RDD and shuffle id
        (1 to 3).foreach(k =>
          spark.range(0, 5000, 1, 3 + k).repartition(k + 1).count())
        write(spark, SfMid, s"$base/b$i")
        val (a, b) = (files(s"$base/a$i"), files(s"$base/b$i"))
        assert(a.nonEmpty && a == b, s"layout $i moved:\n$a\nvs\n$b")
        assert(a.map(_._4).sum == Tables.events(spark, SfMid).count())
      }
      assert(files(s"$base/a0").size == 16, "one file per time slice")
    } finally {
      val root = new org.apache.hadoop.fs.Path(base)
      root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(root, true)
    }
  }

  test("csv round trip is identity on the declared integer/string subset") {
    val viaCsv = InfraQueries.queries("infra_csv_roundtrip")(spark, Sf)
      .collect().map(_.toSeq).toSeq
    val direct = Tables.documents(spark, Sf).select("doc_id", "lang", "n_chars")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
        min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
      .orderBy("lang")
      .collect().map(_.toSeq).toSeq
    assert(viaCsv === direct)
  }
}
