package graft.queries

import graft.Tables
import graft.operators.SkewJoin
import graft.sources.BucketedStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-checked faces of the infra layer: the bucketed storage
  * primitive and the salted skew join run END-TO-END here — written,
  * read back, joined, aggregated, and hash-compared against DuckDB —
  * not just unit-tested. A user adopting the storage layer exercises
  * exactly this path first.
  */
object InfraQueries {
  type Q = (SparkSession, String) => DataFrame

  /** The two relations the bucketed query persists — also the spec's
    * subject (BucketedSpec asserts their join is exchange- and
    * sort-free in the non-broadcast regime). Split so profile carries
    * the group/measure columns and fingerprint the md5: the join must
    * actually combine columns from both buckets to produce the output. */
  def bucketedRelations(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, d)
    (docs.select(col("doc_id"), col("lang"), col("n_chars")),
      docs.select(col("doc_id"), md5(col("text")).as("text_md5")))
  }

  /** Bucketed-storage round trip: write both relations through
    * [[BucketedStore]] (one shuffle each, at write time), read them
    * back, join on the bucket key, and aggregate. At 100 TB the join
    * and the per-key aggregation both ride the catalog's bucket spec —
    * no exchange, no sort (plan shape pinned by BucketedSpec; values
    * pinned here by the DuckDB oracle, which sees through the
    * write/read round trip as identity). */
  private val bucketedJoin: Q = (s, d) => {
    val (profile, fingerprint) = bucketedRelations(s, d)
    BucketedStore.write(profile, "graft_doc_profile", "doc_id", 8)
    BucketedStore.write(fingerprint, "graft_doc_fp", "doc_id", 8)
    BucketedStore.read(s, "graft_doc_profile")
      .join(BucketedStore.read(s, "graft_doc_fp"), "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("sum_chars"),
        min("text_md5").as("min_md5"))
      .orderBy("lang")
  }
  private val bucketedJoinSql =
    """SELECT lang, count(*) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
  min(md5(text)) AS min_md5
FROM documents GROUP BY lang ORDER BY lang"""

  /** Deterministically skewed fact relation: ~75% of event traffic
    * collapses onto user 0 — the one-hot-key shape that melts a single
    * shuffle partition in a plain join. Shared with SkewJoinSpec. */
  def skewedFact(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      when(col("user_id") % 4 =!= 0, lit(0L))
        .otherwise(col("user_id")).as("user_id"),
      col("value"))

  /** Salted skew join, end-to-end: scatter the hot key across 8
    * deterministic sub-keys, replicate the dim side ×8, join, then
    * aggregate per dim attribute. The oracle runs the PLAIN join — the
    * salted form must be row-identical to it by construction, and the
    * hash compare proves it on real data. Decimal-exact value sums keep
    * the result shuffle-order-independent. */
  private val skewJoin: Q = (s, d) => {
    val fact = skewedFact(s, d)
    val dim = fact.select("user_id").distinct()
      .withColumn("tier", col("user_id") % 5)
    SkewJoin.saltedJoin(fact, dim, "user_id", 8)
      .groupBy("tier")
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,6)")).cast("double"), 4)
          .as("val_sum"))
      .orderBy("tier")
  }
  private val skewJoinSql =
    """WITH fact AS (
  SELECT CASE WHEN user_id % 4 <> 0 THEN 0 ELSE user_id END AS user_id, value
  FROM events
), dim AS (
  SELECT DISTINCT user_id, user_id % 5 AS tier FROM fact
)
SELECT d.tier, count(*) AS n_events,
  round(CAST(sum(CAST(f.value AS DECIMAL(18,6))) AS DOUBLE), 4) AS val_sum
FROM fact f JOIN dim d USING (user_id)
GROUP BY d.tier ORDER BY d.tier"""

  /** Scratch path scoped by (Spark application, dataset) under
    * [[graft.GraftSession.scratch]]: concurrent runs on one host cannot
    * race each other's overwrite-vs-read (each app writes under its own
    * applicationId, removed at JVM exit), and within an app each
    * (query, dataset) pair materializes ONCE — repeat constructions
    * (bench sweeps, PlanHygieneSpec's whole-surface sweep) reuse the
    * first write instead of re-running the side effect. */
  private def materialize(s: SparkSession, name: String, d: String)(
      write: String => Unit): String = {
    val ds = new org.apache.hadoop.fs.Path(d).getName
      .replaceAll("[^A-Za-z0-9._-]", "_")
    val path = s"${graft.GraftSession.scratch(s)}/$name-$ds"
    // Hadoop FileSystem resolved from the path (the Compactor idiom):
    // the existence probe works on local disk, HDFS, or an object store
    // alike — scratch is not inherently host-local at cluster scale.
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) write(path)
    path
  }

  /** Hive-style partitioned layout for the partition-pruning query —
    * materialized once per (app, dataset), read back filtered. Shared
    * with the spec that pins the pruning in the plan. */
  def partitionedEventsPath(s: SparkSession, d: String): String =
    materialize(s, "partitioned-events", d) { p =>
      Tables.events(s, d)
        .write.mode("overwrite").partitionBy("event_type").parquet(p)
    }

  /** Partition-pruned scan — THE 100 TB storage primitive: events land
    * partitioned by type (hive-style directory keys), and a query for
    * one type opens only that directory — the other partitions are
    * pruned at PLANNING time from the file listing, before any I/O
    * (`PartitionFilters` in the scan node; pinned by InfraSpec). The
    * oracle reads the unpartitioned source with a plain filter — the
    * layout must be semantics-free. */
  private val partitionedScan: Q = (s, d) => {
    s.read.parquet(partitionedEventsPath(s, d))
      .filter(col("event_type") === "click")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_clicks"),
        round(sum(col("value").cast("decimal(18,6)")).cast("double"), 4)
          .as("val_sum"))
      .orderBy("user_id")
  }
  private val partitionedScanSql =
    """SELECT user_id, count(*) AS n_clicks,
  round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS val_sum
FROM events WHERE event_type = 'click'
GROUP BY user_id ORDER BY user_id"""

  /** `events` split into n output partitions equi-width over the key
    * rank(group) + (ts − lo) / (hi − lo + 1), with lo, hi the table's
    * own ts bounds and rank(group) the row's place among the sorted
    * distinct `group` values: a range partitioning over (group, ts)
    * whose bounds come from one stats job, and n equi-width time slices
    * when `group` is a constant. The file boundaries depend on the data
    * alone; a sampled range partitioner (`repartitionByRange`) would
    * draw them from a sample Spark seeds with the RDD id, so they would
    * move with whatever ran earlier in the JVM. */
  private def sliced(s: SparkSession, d: String, n: Int,
      group: Column): DataFrame = {
    val ev = Tables.events(s, d)
    val us = unix_micros(col("ts"))
    val b = ev.agg(min(us), max(us), array_sort(collect_set(group))).head()
    val (lo, hi, keys) = (b.getLong(0), b.getLong(1), b.getSeq[String](2))
    val key = array_position(typedLit(keys), group) - 1 +
      (us - lit(lo)) / lit(hi - lo + 1)
    ev.repartitionById(n, floor(key * n / keys.size).cast("int"))
  }

  /** The per-file [ts_min, ts_max] stats table of the layout under
    * `p/data` (grouped by `keys` too), ONE pass over the written files. */
  private def writeStats(s: SparkSession, p: String, keys: String*): Unit =
    s.read.parquet(s"$p/data")
      .groupBy(input_file_name().as("file") +: keys.map(col): _*)
      .agg(min("ts").as("ts_min"), max("ts").as("ts_max"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$p/stats")

  /** Write the range-clustered events layout under `p/data` (16
    * equi-width time slices, one file each) and its file-level min/max
    * stats index under `p/stats`, the Delta-log-style table. */
  def writeMinmaxLayout(s: SparkSession, d: String, p: String): Unit = {
    sliced(s, d, 16, lit("")).write.mode("overwrite").parquet(s"$p/data")
    writeStats(s, p)
  }

  /** [[writeMinmaxLayout]] built once per (app, dataset). Returns
    * (dataPath, statsPath). */
  def minmaxEventsPaths(s: SparkSession, d: String): (String, String) = {
    val root = materialize(s, "minmax-events", d)(writeMinmaxLayout(s, d, _))
    (s"$root/data", s"$root/stats")
  }

  /** Files whose [ts_min, ts_max] overlaps [lo, hi) per the stats
    * index — the candidate set a skipping scan actually opens. */
  def minmaxSurvivors(s: SparkSession, statsPath: String,
      lo: String, hi: String): Seq[String] =
    s.read.parquet(statsPath)
      .filter(col("ts_max") >= expr(s"TIMESTAMP '$lo'") &&
        col("ts_min") < expr(s"TIMESTAMP '$hi'"))
      .select("file").collect().map(_.getString(0)).toSeq.sorted

  /** File-level min/max data skipping — the OTHER 100 TB storage
    * primitive next to hive partitioning: when the layout clusters a
    * column (time, here) but doesn't directory-partition it, a tiny
    * per-file stats index (one row per file — what Delta/Iceberg keep
    * in the log) lets a range query open only the files whose
    * [min,max] intersects the predicate: ~3/16 files here, pinned by
    * InfraScanSpec. The `.collect()` is file-level METADATA, constant
    * size in file count, never data. The residual filter still runs on
    * the survivors (stats are necessary, not sufficient), and parquet
    * row-group stats prune further inside each file. The oracle runs
    * the plain filter on the unclustered source — the layout and the
    * skipping must be semantics-free. */
  private val minmaxSkipping: Q = (s, d) => {
    val (_, stats) = minmaxEventsPaths(s, d)
    val (lo, hi) = ("2024-01-08 00:00:00", "2024-01-12 00:00:00")
    val survivors = minmaxSurvivors(s, stats, lo, hi)
    s.read.parquet(survivors: _*)
      .filter(col("ts") >= expr(s"TIMESTAMP '$lo'") &&
        col("ts") < expr(s"TIMESTAMP '$hi'"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,6)")).cast("double"), 4)
          .as("val_sum"),
        min("event_id").as("min_event"), max("event_id").as("max_event"))
      .orderBy("event_type")
  }
  private val minmaxSkippingSql =
    """SELECT event_type, count(*) AS n_events,
  round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS val_sum,
  min(event_id) AS min_event, max(event_id) AS max_event
FROM events
WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
  AND ts < TIMESTAMP '2024-01-12 00:00:00'
GROUP BY event_type ORDER BY event_type"""

  /** Hash-clustered events layout + its file-level Bloom index, built
    * once per (app, dataset): `repartition(user_id)` puts each user's
    * rows in exactly one file, then ONE pass over the written files
    * derives a 1024-bit Bloom filter per file (two salted hash
    * positions per key, 16 bit-or'd long words — the index Iceberg
    * and Delta keep for point-lookup columns that min/max stats can't
    * serve, because a hash-clustered column has no per-file range).
    * The bitmap is built with plain relational ops: explode the two
    * bit positions, group by (file, word), `bit_or` the one-hot words
    * — no UDF, no driver loop. Returns (dataPath, statsPath). */
  def bloomEventsPaths(s: SparkSession, d: String): (String, String) = {
    val root = materialize(s, "bloom-events", d) { p =>
      Tables.events(s, d).repartition(16, col("user_id"))
        .write.mode("overwrite").parquet(s"$p/data")
      s.read.parquet(s"$p/data")
        .select(input_file_name().as("file"),
          pmod(col("user_id") * lit(2654435761L), lit(1024L)).as("p1"),
          pmod(col("user_id") * lit(2246822519L) + lit(1013904223L),
            lit(1024L)).as("p2"))
        .select(col("file"), explode(array(col("p1"), col("p2"))).as("pos"))
        .select(col("file"), expr("CAST(pos div 64 AS INT)").as("word"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))")
            .as("bits"))
        .groupBy("file", "word").agg(expr("bit_or(bits)").as("bits"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$p/stats")
    }
    (s"$root/data", s"$root/stats")
  }

  /** Files whose Bloom bitmap has BOTH probe bits set — the candidate
    * set a point-lookup scan opens. No false negatives by
    * construction (the build bit-or's every present key's positions);
    * false positives only cost an extra file open. */
  def bloomSurvivors(s: SparkSession, statsPath: String,
      probe: Long): Seq[String] = {
    val (p1, p2) = (
      java.lang.Math.floorMod(probe * 2654435761L, 1024L),
      java.lang.Math.floorMod(probe * 2246822519L + 1013904223L, 1024L))
    def hit(pos: Long) =
      s.read.parquet(statsPath)
        .filter(col("word") === (pos / 64).toInt &&
          (col("bits").bitwiseAND(lit(1L << (pos % 64).toInt))) =!= 0L)
        .select("file").collect().map(_.getString(0)).toSet
    (hit(p1) intersect hit(p2)).toSeq.sorted
  }

  /** File-level Bloom-filter data skipping — the point-lookup
    * complement to [[minmaxSkipping]]: a hash-clustered column has no
    * usable per-file [min,max], so the per-file Bloom index answers
    * "which files COULD contain key k" instead; the scan opens only
    * those (typically 1 of 16 here, ≈1 + FP-rate at any file count —
    * pinned by InfraScanSpec). The stats read is file-level METADATA
    * (16 words × files), never data. The probe key is the corpus
    * max(user_id) — data-derived, deterministic. The oracle runs the
    * plain point filter on the unclustered source: layout and index
    * must be semantics-free. */
  private val bloomSkipping: Q = (s, d) => {
    val (data, stats) = bloomEventsPaths(s, d)
    val probe = s.read.parquet(data).agg(max("user_id")).head().getLong(0)
    val survivors = bloomSurvivors(s, stats, probe)
    s.read.parquet(survivors: _*)
      .filter(col("user_id") === probe)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,6)")).cast("double"), 4)
          .as("val_sum"))
      .orderBy("event_type")
  }
  private val bloomSkippingSql =
    """SELECT event_type, count(*) AS n_events,
  round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS val_sum
FROM events
WHERE user_id = (SELECT max(user_id) FROM events)
GROUP BY event_type ORDER BY event_type"""

  /** The production lakehouse layout in full: hive-partitioned by the
    * categorical column AND range-clustered by time WITHIN each
    * partition, with a per-file min/max stats index over the whole
    * store. Partition pruning (directory level, at planning) and file
    * skipping (stats level, before I/O) then compose — the two-level
    * pruning every Delta/Iceberg table relies on: 8 ranges over
    * (event_type, ts), each written as one file per event_type
    * directory it spans. */
  def writeTwoLevelLayout(s: SparkSession, d: String, p: String): Unit = {
    sliced(s, d, 8, col("event_type"))
      .write.mode("overwrite").partitionBy("event_type")
      .parquet(s"$p/data")
    writeStats(s, p, "event_type")
  }

  /** [[writeTwoLevelLayout]] built once per (app, dataset). Returns
    * (dataPath, statsPath). */
  def twoLevelPaths(s: SparkSession, d: String): (String, String) = {
    val root = materialize(s, "twolevel-events", d)(writeTwoLevelLayout(s, d, _))
    (s"$root/data", s"$root/stats")
  }

  /** Two-level pruned scan: the stats index first cuts to the target
    * PARTITION (directory pruning made explicit at the index level),
    * then to the files whose [ts_min, ts_max] overlaps the window —
    * the scan opens only that intersection, and the residual filter
    * still runs (stats are necessary, not sufficient). The oracle is
    * the plain two-predicate filter on the unclustered source: both
    * pruning levels must be semantics-free. */
  private val twoLevelPruning: Q = (s, d) => {
    val (_, stats) = twoLevelPaths(s, d)
    val (lo, hi) = ("2024-01-08 00:00:00", "2024-01-12 00:00:00")
    val survivors = s.read.parquet(stats)
      .filter(col("event_type") === "click" &&
        col("ts_max") >= expr(s"TIMESTAMP '$lo'") &&
        col("ts_min") < expr(s"TIMESTAMP '$hi'"))
      .select("file").collect().map(_.getString(0)).toSeq.sorted
    s.read.parquet(survivors: _*)
      .filter(col("ts") >= expr(s"TIMESTAMP '$lo'") &&
        col("ts") < expr(s"TIMESTAMP '$hi'"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,6)")).cast("double"), 4)
          .as("val_sum"))
      .orderBy("user_id")
  }
  private val twoLevelPruningSql =
    """SELECT user_id, count(*) AS n_events,
  round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS val_sum
FROM events
WHERE event_type = 'click'
  AND ts >= TIMESTAMP '2024-01-08 00:00:00'
  AND ts < TIMESTAMP '2024-01-12 00:00:00'
GROUP BY user_id ORDER BY user_id"""

  /** Small-file compaction, oracle-faced — [[graft.sources.Compactor]]
    * run END-TO-END inside the materialize memo: the store is written
    * as 64 deliberately-tiny files (the streaming-accretion pathology),
    * compacted toward the byte target with the two-rename atomic swap,
    * and the query aggregates FROM THE COMPACTED FILES — the oracle's
    * read of the original table proves the rewrite lost and changed
    * nothing. The file-count drop ships as a contract boolean (the
    * WAP/CMS pattern: the oracle pins TRUE; a compaction that didn't
    * compact hash-mismatches). Runs once per (app, dataset); repeat
    * constructions reuse the already-compacted store. */
  private val compaction: Q = (s, d) => {
    val root = materialize(s, "compact-events", d) { p =>
      Tables.events(s, d).select("event_type", "user_id", "value")
        .repartition(64).write.mode("overwrite").parquet(s"$p/data")
      val (b, a) = graft.sources.Compactor.compact(s, s"$p/data",
        targetBytes = 8L * 1024 * 1024)
      import s.implicits._
      Seq((b, a)).toDF("files_before", "files_after")
        .coalesce(1).write.mode("overwrite").parquet(s"$p/meta")
    }
    val meta = broadcast(s.read.parquet(s"$root/meta"))
    s.read.parquet(s"$root/data")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,6)")).cast("double"), 4)
          .as("val_sum"))
      .crossJoin(meta)
      .select(col("event_type"), col("n_events"), col("val_sum"),
        (col("files_after") < col("files_before")).as("compacted"))
      .orderBy("event_type")
  }
  private val compactionSql =
    """SELECT event_type, count(*) AS n_events,
  round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS val_sum,
  TRUE AS compacted
FROM events GROUP BY event_type ORDER BY event_type"""

  /** The K2 metadata store's FULL LIFECYCLE as one oracle-gated face
    * (round 17): five sequential last-writer-wins merge batches
    * through the REAL [[graft.streaming.StreamingEtl
    * .ParquetMetadataStore]] — with maintenance bounds tight enough
    * that the SELF-DRIVING fold (`maybeCompact`, the trigger
    * `runStream` fires at every foreachBatch boundary) runs
    * mid-sequence — then a crash simulated BETWEEN a pid compaction's
    * two renames (the pid's only copy parked at the dot-prefixed path
    * partition discovery deliberately ignores), then the read through
    * a FRESH store instance. The oracle derives last-writer-wins
    * independently (per (id, mkey): the latest batch containing the
    * id wins), so the hash match proves merge ∪ self-driving folds ∪
    * crash roll-forward lost and invented nothing — the silent-data-
    * loss window VERDICT r16 called out, now under the driver's
    * correctness gate, not just an sbt pin. Materialized once per
    * (app, dataset); repeat constructions re-read the recovered
    * store (recovery is idempotent). */
  private val storeLifecycle: Q = (s, d) => {
    import graft.streaming.StreamingEtl
    val root = materialize(s, "store-lifecycle", d) { p =>
      val store = new StreamingEtl.ParquetMetadataStore(s, s"$p/meta",
        compactEveryMerges = 2, maxFilesPerPid = 4)
      val orders = Tables(s, d, "orders")
      (0 until 5).foreach { b =>
        val kv = orders
          .filter(pmod(col("o_orderkey"), lit(5)) === b)
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("cnt"),
            min(col("o_orderkey")).as("first_ok"))
          .select(col("o_custkey").cast("string").as("id"),
            explode(map(
              lit("order_cnt"), col("cnt").cast("string"),
              lit("first_order"), col("first_ok").cast("string")))
              .as(Seq("mkey", "mvalue")))
        store.merge(kv)
        store.maybeCompact(targetBytes = 8L * 1024 * 1024)
      }
      // crash simulation between a pid compaction's two renames: the
      // only copy of pid=3 moves to the dot-prefixed parked path —
      // invisible to partition discovery until recover promotes it
      val fs = new org.apache.hadoop.fs.Path(p)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val pid = new org.apache.hadoop.fs.Path(s"$p/meta/pid=3")
      if (fs.exists(pid))
        fs.rename(pid,
          new org.apache.hadoop.fs.Path(s"$p/meta/.pid=3.compact-old"))
    }
    // the FRESH boot path: a new store instance must roll the parked
    // pid forward and serve every row — silently dropping it would
    // hash-mismatch on ~1/16 of the ids
    new StreamingEtl.ParquetMetadataStore(s, s"$root/meta")
      .read()
      .select(col("id").cast("long").as("id"), col("mkey"), col("mvalue"))
      .orderBy("id", "mkey")
  }
  private val storeLifecycleSql =
    """WITH perb AS (
  SELECT o_custkey, CAST(o_orderkey % 5 AS INT) AS b,
         count(*) AS cnt, min(o_orderkey) AS first_ok
  FROM orders GROUP BY 1, 2
), last AS (
  SELECT o_custkey, max(b) AS b FROM perb GROUP BY 1
), fin AS (
  SELECT p.o_custkey AS id, p.cnt, p.first_ok
  FROM perb p JOIN last l ON p.o_custkey = l.o_custkey AND p.b = l.b
)
SELECT id, 'first_order' AS mkey, CAST(first_ok AS VARCHAR) AS mvalue FROM fin
UNION ALL
SELECT id, 'order_cnt' AS mkey, CAST(cnt AS VARCHAR) AS mvalue FROM fin
ORDER BY id, mkey"""

  /** CSV source round trip with an EXPLICIT schema — the format-breadth
    * face: integer/string columns survive text serialization losslessly,
    * and the declared schema means no inference pass (schema inference
    * reads the data twice; at 100 TB the second read is the whole cost).
    * The oracle aggregates the original parquet — the round trip must be
    * identity. */
  private val csvRoundtrip: Q = (s, d) => {
    val path = materialize(s, "csv-docs", d) { p =>
      Tables.documents(s, d).select("doc_id", "lang", "n_chars")
        .write.mode("overwrite").option("header", "true").csv(p)
    }
    s.read.option("header", "true")
      .schema("doc_id LONG, lang STRING, n_chars LONG")
      .csv(path)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
        min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
      .orderBy("lang")
  }
  private val csvRoundtripSql =
    """SELECT lang, count(*) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
  min(doc_id) AS min_doc, max(doc_id) AS max_doc
FROM documents GROUP BY lang ORDER BY lang"""

  /** JSON-lines source round trip — same contract as [[csvRoundtrip]]
    * (declared schema, no inference pass, lossless integer/string
    * subset) over the other ubiquitous text interchange format. The
    * declared-schema detail matters doubly for JSON: inference must
    * read every line AND unions ragged records into a drifting schema;
    * a 100 TB ingest pins the schema up front and quarantines
    * mismatches instead. */
  private val jsonRoundtrip: Q = (s, d) => {
    val path = materialize(s, "json-docs", d) { p =>
      Tables.documents(s, d).select("doc_id", "lang", "source", "n_chars")
        .write.mode("overwrite").json(p)
    }
    s.read.schema("doc_id LONG, lang STRING, source STRING, n_chars LONG")
      .json(path)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      .orderBy("lang", "source")
  }
  private val jsonRoundtripSql =
    """SELECT lang, source, count(*) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY lang, source ORDER BY lang, source"""

  /** ORC source round trip — the OTHER columnar interchange format
    * next to parquet: binary-faithful for timestamps and doubles (no
    * text serialization in the loop), predicate/column pushdown on
    * read, and the format a Hive-era lakehouse migration actually
    * carries. The aggregate after the round trip must be bit-identical
    * to the oracle's read of the original parquet — columnar→columnar
    * preserves every value exactly. */
  private val orcRoundtrip: Q = (s, d) => {
    val path = materialize(s, "orc-events", d) { p =>
      Tables.events(s, d)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .write.mode("overwrite").orc(p)
    }
    s.read.orc(path)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,6)")).cast("double"), 4)
          .as("val_sum"),
        unix_millis(min("ts")).as("first_ms"),
        unix_millis(max("ts")).as("last_ms"))
      .orderBy("event_type")
  }
  private val orcRoundtripSql =
    """SELECT event_type, count(*) AS n_events,
  round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS val_sum,
  epoch_ms(min(ts)) AS first_ms, epoch_ms(max(ts)) AS last_ms
FROM events GROUP BY event_type ORDER BY event_type"""

  /** Z-order layout accounting — per z-bucket point counts and
    * coordinate spans over the (user, value-bin) plane. The z-value is
    * [[graft.operators.ZOrder.zvalue]] (codegen'd bit interleave); the
    * bucket is its high prefix (z >> 12 = a 64×64 tile), so the
    * min/max columns PROVE the locality contract the layout sells:
    * every bucket's x-span and y-span are ≤ 63 — the property that
    * lets per-file min/max stats prune a 2-D box predicate after a
    * z-sorted write (spec-pinned, including the quadrant ordering).
    * Pure scan-side arithmetic + one map-side-combinable aggregate. */
  private val zorderLayout: Q = (s, d) => {
    val x = pmod(col("user_id"), lit(65536L))
    // full-range clamp into [0, 2^16) per ZOrder.zvalue's contract — a
    // negative value's two's-complement bits would alias across tiles
    val y = greatest(lit(0L),
      least(floor(col("value")).cast("long"), lit(65535L)))
    graft.Tables.events(s, d)
      .select(x.as("xk"), y.as("yk"),
        graft.operators.ZOrder.zvalue(x, y).as("zval"))
      .groupBy(shiftright(col("zval"), 12).as("zbucket"))
      .agg(count(lit(1)).as("n"),
        min("xk").as("x_min"), max("xk").as("x_max"),
        min("yk").as("y_min"), max("yk").as("y_max"))
      .orderBy("zbucket")
  }
  private val zorderLayoutSql =
    """WITH pts AS (
  SELECT user_id % 65536 AS xk,
    greatest(least(CAST(floor(value) AS BIGINT), 65535), 0) AS yk
  FROM events
), z AS (
  SELECT xk, yk,
    CAST(list_sum(list_transform(range(0, 16),
      i -> (((xk >> i) & 1) << (2*i)) + (((yk >> i) & 1) << (2*i+1))))
      AS BIGINT) AS zval
  FROM pts
)
SELECT zval >> 12 AS zbucket, count(*) AS n,
  min(xk) AS x_min, max(xk) AS x_max, min(yk) AS y_min, max(yk) AS y_max
FROM z GROUP BY zbucket ORDER BY zbucket"""

  /** Schema evolution on read — the ingest reality at 100 TB: early
    * batches landed WITHOUT a column that later batches carry, and one
    * scan must read both vintages (`mergeSchema` unions the parquet
    * footers; missing columns surface as nulls). The query then treats
    * null as the legacy marker — the exact coalesce a production
    * pipeline writes. Oracle replays the evolution as a UNION with an
    * explicit NULL column. Batches split by doc_id parity so the
    * vintage mix is deterministic and both sides are non-trivial. */
  private val schemaEvolution: Q = (s, d) => {
    val path = materialize(s, "evolving-docs", d) { p =>
      val docs = Tables.documents(s, d)
      docs.filter(col("doc_id") % 2 === 0).select("doc_id", "lang", "n_chars")
        .write.mode("overwrite").parquet(s"$p/b0")
      docs.filter(col("doc_id") % 2 === 1)
        .select("doc_id", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$p/b1")
    }
    s.read.option("mergeSchema", "true").parquet(s"$path/b0", s"$path/b1")
      .groupBy(coalesce(col("source"), lit("legacy")).as("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      .orderBy("source", "lang")
  }
  private val schemaEvolutionSql =
    """WITH evolved AS (
  SELECT doc_id, lang, NULL AS source, n_chars
  FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT doc_id, lang, source, n_chars
  FROM documents WHERE doc_id % 2 = 1
)
SELECT coalesce(source, 'legacy') AS source, lang, count(*) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM evolved GROUP BY 1, 2 ORDER BY 1, 2"""

  /** CDC merge — the lakehouse MERGE INTO / merge-on-read compaction
    * shape: a snapshot plus a batch of keyed change records (inserts,
    * updates, deletes, with a sequence number) collapse to the new
    * snapshot by last-writer-wins per key. ONE shuffle on the merge key
    * (the window) — at 100 TB this runs per ingest cycle and the
    * change batch is ≪ snapshot, so the snapshot side would ride a
    * bucketed layout (see [[BucketedStore]]) and only changed
    * partitions rewrite. The change batch is derived deterministically
    * from the snapshot (Corpus/OracleCorpus pattern): two stacked
    * updates on one key family prove seq-ordering, deletes drop keys,
    * inserts arrive above max(doc_id) via a broadcast 1-row scalar (no
    * driver round trip). The oracle replays the identical merge in SQL
    * — the full merged state is hashed, not a summary of it. */
  /** The merged post-CDC snapshot (unordered) — shared by [[cdcMerge]]
    * and the versioned-snapshot store behind [[timeTravel]] (where it
    * is version 2's content). */
  private[graft] def cdcMerged(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select("doc_id", "lang", "source", "n_chars")
    val mx = docs.agg((max("doc_id") + 1).as("base_id"))
    val base = docs
      .withColumn("seq", lit(0L)).withColumn("op", lit("S"))
    val u1 = docs.filter(col("doc_id") % 7 === 0)
      .withColumn("n_chars", col("n_chars") + 1000)
      .withColumn("seq", lit(1L)).withColumn("op", lit("U"))
    val u2 = docs.filter(col("doc_id") % 14 === 0)
      .withColumn("n_chars", col("n_chars") + 2000)
      .withColumn("seq", lit(2L)).withColumn("op", lit("U"))
    val del = docs.filter(col("doc_id") % 7 === 3)
      .withColumn("seq", lit(1L)).withColumn("op", lit("D"))
    val ins = docs.filter(col("doc_id") % 11 === 0).crossJoin(broadcast(mx))
      .select((col("doc_id") + col("base_id")).as("doc_id"),
        lit("xx").as("lang"), lit("cdc").as("source"),
        (col("doc_id") % 997).as("n_chars"),
        lit(1L).as("seq"), lit("I").as("op"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("seq").desc)
    base.unionByName(u1).unionByName(u2).unionByName(del).unionByName(ins)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .select("doc_id", "lang", "source", "n_chars")
  }
  private val cdcMerge: Q = (s, d) => cdcMerged(s, d).orderBy("doc_id")
  private val cdcMergeSql =
    """WITH mx AS (SELECT max(doc_id) + 1 AS base_id FROM documents),
allrows AS (
  SELECT doc_id, lang, source, n_chars, 0 AS seq, 'S' AS op FROM documents
  UNION ALL
  SELECT doc_id, lang, source, n_chars + 1000, 1, 'U'
  FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id, lang, source, n_chars + 2000, 2, 'U'
  FROM documents WHERE doc_id % 14 = 0
  UNION ALL
  SELECT doc_id, lang, source, n_chars, 1, 'D'
  FROM documents WHERE doc_id % 7 = 3
  UNION ALL
  SELECT d.doc_id + mx.base_id, 'xx', 'cdc', d.doc_id % 997, 1, 'I'
  FROM documents d, mx WHERE d.doc_id % 11 = 0
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC) AS rn
  FROM allrows
)
SELECT doc_id, lang, source, n_chars FROM ranked
WHERE rn = 1 AND op <> 'D' ORDER BY doc_id"""

  /** Materialized-summary rewrite, end-to-end: register a summary of
    * lineitem keyed by (returnflag, linestatus), then run a COARSER
    * rollup (returnflag only) phrased entirely against the BASE table.
    * The [[graft.plans.SummaryRewriteRule]] optimizer rule re-routes
    * the aggregate to re-aggregate the summary — the oracle runs the
    * same SQL on the raw table, so the hash match proves the rewrite
    * is semantically invisible; SummaryRewriteSpec pins that the
    * optimized plan really does scan the summary, not lineitem. At
    * 100 TB this is the reporting tier: the fact scan happens once at
    * summary build, every compatible rollup after reads |groups| rows. */
  private val summaryRewrite: Q = (s, d) => {
    graft.plans.SummaryRewrite.register(s, d, "lineitem",
      keys = Seq("l_returnflag", "l_linestatus"),
      measures = Seq("l_quantity", "l_extendedprice"))
    Tables.raw(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("decimal(18,6)")).as("qty_dec"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"))
      .select(col("l_returnflag"), col("n_items"),
        round(col("qty_dec").cast("double"), 4).as("sum_qty"),
        col("min_price"), col("max_price"))
      .orderBy("l_returnflag")
  }
  private val summaryRewriteSql =
    """SELECT l_returnflag, count(*) AS n_items,
  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_qty,
  min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  // --------------------------------------------------------- time travel
  /** Versioned snapshots + time travel — the lakehouse read-side
    * contract that makes [[cdcMerge]] safe to consume: each commit
    * writes a NEW snapshot directory and appends one row to a tiny
    * commit log; readers resolve "version N" (or "latest") through
    * the LOG, never by listing data paths, so a half-written snapshot
    * is invisible until its log row lands and historical reads stay
    * stable after later commits. The store here has version 1 (the
    * base documents snapshot) and version 2 (the post-CDC state,
    * [[cdcMerged]]); the query reads BOTH through the log — v1 as a
    * time-travel read issued while v2 is current — and reconciles
    * them per lang with a full outer join (v2's inserted 'xx' lang
    * exists only on one side). The log read is one tiny parquet
    * (metadata scale); each snapshot read is a plain pruned scan —
    * time travel costs nothing at read time beyond the log lookup.
    * The oracle recomputes both versions from base data: the store
    * must be a faithful materialization, not a semantic layer. */
  private def timeTravelRoot(s: SparkSession, d: String): String =
    materialize(s, "timetravel", d) { p =>
      Tables.documents(s, d).select("doc_id", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$p/v1")
      cdcMerged(s, d).write.mode("overwrite").parquet(s"$p/v2")
      import s.implicits._
      Seq((1L, "v1"), (2L, "v2")).toDF("version", "path")
        .coalesce(1).write.mode("overwrite").parquet(s"$p/_log")
    }
  /** Resolve a snapshot through the commit log: the data path of the
    * greatest committed version ≤ the requested one. */
  def snapshotAt(s: SparkSession, root: String, version: Long): DataFrame = {
    val entry = s.read.parquet(s"$root/_log")
      .filter(col("version") <= version)
      .orderBy(col("version").desc).limit(1)
      .head()
    s.read.parquet(s"$root/${entry.getString(1)}")
  }
  private val timeTravel: Q = (s, d) => {
    val root = timeTravelRoot(s, d)
    def langAgg(df: DataFrame, n: String, c: String) = df.groupBy("lang")
      .agg(count(lit(1)).as(n), sum("n_chars").as(c))
    val v1 = langAgg(snapshotAt(s, root, 1L), "n_v1", "chars_v1")
    val v2 = langAgg(snapshotAt(s, root, 2L), "n_v2", "chars_v2")
    v1.join(v2, Seq("lang"), "full_outer")
      .select(col("lang"),
        coalesce(col("n_v1"), lit(0L)).as("n_v1"),
        coalesce(col("chars_v1"), lit(0L)).as("chars_v1"),
        coalesce(col("n_v2"), lit(0L)).as("n_v2"),
        coalesce(col("chars_v2"), lit(0L)).as("chars_v2"))
      .orderBy("lang")
  }
  private val timeTravelSql = s"""WITH v2 AS (
$cdcMergeSql
), a1 AS (
  SELECT lang, count(*) AS n_v1, CAST(sum(n_chars) AS BIGINT) AS chars_v1
  FROM documents GROUP BY lang
), a2 AS (
  SELECT lang, count(*) AS n_v2, CAST(sum(n_chars) AS BIGINT) AS chars_v2
  FROM v2 GROUP BY lang
)
SELECT coalesce(a1.lang, a2.lang) AS lang,
  coalesce(n_v1, 0) AS n_v1, coalesce(chars_v1, 0) AS chars_v1,
  coalesce(n_v2, 0) AS n_v2, coalesce(chars_v2, 0) AS chars_v2
FROM a1 FULL JOIN a2 ON a1.lang = a2.lang
ORDER BY lang"""

  // -------------------------------------------------------- vacuum
  /** Snapshot vacuum — the GC half of the [[timeTravel]] lifecycle: a
    * versioned store accretes a snapshot per commit forever unless
    * expired ones are REMOVED, and removal must be log-first (drop the
    * log row, THEN delete the directory) so a concurrent reader
    * resolving through the log can never open a half-deleted
    * snapshot. This face clones the time-travel store once per (app,
    * dataset), vacuums version 1 with a retain-latest-1 policy, and
    * reads the HEAD through the rewritten log; contract booleans pin
    * that the expired version is gone from both log and disk while
    * the head still serves exactly the pre-vacuum current state (the
    * oracle recomputes it from base data). */
  private def vacuumedRoot(s: SparkSession, d: String): String =
    materialize(s, "vacuumed", d) { p =>
      Tables.documents(s, d).select("doc_id", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$p/v1")
      cdcMerged(s, d).write.mode("overwrite").parquet(s"$p/v2")
      import s.implicits._
      Seq((1L, "v1"), (2L, "v2")).toDF("version", "path")
        .coalesce(1).write.mode("overwrite").parquet(s"$p/_log")
      // vacuum: retain the latest 1 version — log rewrite FIRST, then
      // the directory delete (reader-safe ordering). The log swap is
      // the two-rename discipline (park old, promote new, drop the
      // park), never delete-then-rename, which has an instant with NO
      // log on disk — the anti-pattern the SwapStore modules exist to
      // prevent; scratch is per-app so no cross-session recover
      // wiring is needed here.
      val keep = s.read.parquet(s"$p/_log")
        .orderBy(col("version").desc).limit(1)
      keep.coalesce(1).write.mode("overwrite").parquet(s"$p/_log_new")
      val fs = new org.apache.hadoop.fs.Path(p)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val logP = new org.apache.hadoop.fs.Path(s"$p/_log")
      val logOld = new org.apache.hadoop.fs.Path(s"$p/._log.vacuum-old")
      fs.rename(logP, logOld)
      fs.rename(new org.apache.hadoop.fs.Path(s"$p/_log_new"), logP)
      fs.delete(logOld, true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$p/v1"), true)
    }
  private val vacuum: Q = (s, d) => {
    val root = vacuumedRoot(s, d)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val log = s.read.parquet(s"$root/_log")
    val v1Gone = log.filter(col("version") === 1L).isEmpty &&
      !fs.exists(new org.apache.hadoop.fs.Path(s"$root/v1"))
    snapshotAt(s, root, Long.MaxValue)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      .withColumn("expired_removed", lit(v1Gone))
      .orderBy("lang")
  }
  private val vacuumSql = s"""WITH v2 AS (
$cdcMergeSql
)
SELECT lang, count(*) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
  TRUE AS expired_removed
FROM v2 GROUP BY lang ORDER BY lang"""

  /** Incremental summary maintenance — the other half of the
    * [[graft.plans.SummaryRewrite]] story: when a delta batch lands, the
    * summary is NOT rebuilt from the full fact table; the delta's
    * partial states fold into the existing summary (sum+sum, min of
    * mins, max of maxes, count+count — all associative because the
    * sums are decimal). Cost per refresh = one scan of the DELTA plus a
    * |groups|-sized merge; the full-table rebuild this replaces is the
    * dominant recurring cost of a naive reporting tier at 100 TB. The
    * history/delta split (l_orderkey mod 10) is deterministic; the
    * oracle aggregates the FULL table directly, so the hash match
    * proves fold(history, delta) ≡ rebuild(all). */
  /** The summary partial states — shared verbatim by the batch delta
    * fold below and [[graft.streaming.StreamingEvents.summaryStream]]
    * (same expression tree, batch and unbounded). */
  private[graft] val summaryAggs = Seq(
    sum(col("l_quantity").cast("decimal(18,6)")).as("sum_qty"),
    min(col("l_extendedprice")).as("min_price"),
    max(col("l_extendedprice")).as("max_price"),
    count(lit(1)).as("cnt"))
  private[graft] def summaryPartials(df: DataFrame): DataFrame =
    df.groupBy("l_returnflag", "l_linestatus")
      .agg(summaryAggs.head, summaryAggs.tail: _*)

  private val summaryIncremental: Q = (s, d) => {
    val li = Tables.raw(s, d, "lineitem")
    def partials(df: DataFrame): DataFrame = summaryPartials(df)
    val history = partials(li.filter(col("l_orderkey") % 10 =!= 0))
    val delta = partials(li.filter(col("l_orderkey") % 10 === 0))
    history.unionByName(delta)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum("sum_qty").as("sum_qty_w"),
        min("min_price").as("min_price"),
        max("max_price").as("max_price"),
        sum("cnt").as("n_items"))
      .select(col("l_returnflag"), col("l_linestatus"),
        round(col("sum_qty_w").cast("double"), 4).as("sum_qty"),
        col("min_price"), col("max_price"), col("n_items"))
      .orderBy("l_returnflag", "l_linestatus")
  }
  private val summaryIncrementalSql =
    """SELECT l_returnflag, l_linestatus,
  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_qty,
  min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
  count(*) AS n_items
FROM lineitem GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus"""

  // ------------------------------------------------------ delete vectors
  /** Merge-on-read equality deletes — the lakehouse delete path
    * (Iceberg v2 equality-delete files / Delta deletion vectors): a
    * delete is a small FILE of keys written next to the data, not a
    * rewrite of the base snapshot, and every reader applies it on the
    * fly. The three snapshot components (base seq 0, an appended batch
    * seq 1, a delete file seq 1) are physically written to scratch
    * parquet once per (app, dataset) and read BACK — the query works
    * on storage, not lineage. Apply rule is Iceberg's: a delete with
    * sequence s removes rows whose data sequence is < s, so the
    * appended seq-1 rows survive the seq-1 delete entries that name
    * them (the reconciliation subtlety this query exists to prove).
    * Shape at 100 TB: the delete relation is collapsed to max(del_seq)
    * per key (delete-file-sized, ≪ data) and applied with ONE
    * left join + filter — AQE turns it into a broadcast join while
    * delete files are small, and it degrades to a shuffle join, never
    * a rewrite, when they are not. */
  private def morPaths(s: SparkSession, d: String): String =
    materialize(s, "mor-deletes", d) { p =>
      val docs = Tables.documents(s, d)
        .select("doc_id", "lang", "source", "n_chars")
      val mx = docs.agg((max("doc_id") + 1).as("base_id"))
      docs.withColumn("seq", lit(0L))
        .write.mode("overwrite").parquet(s"$p/base")
      docs.filter(col("doc_id") % 17 === 0).crossJoin(broadcast(mx))
        .select((col("doc_id") + col("base_id")).as("doc_id"),
          lit("xx").as("lang"), lit("append").as("source"),
          (col("doc_id") % 991).as("n_chars"), lit(1L).as("seq"))
        .write.mode("overwrite").parquet(s"$p/append")
      docs.filter(col("doc_id") % 13 === 5)
        .select(col("doc_id"), lit(1L).as("del_seq"))
        .unionByName(docs
          .filter(col("doc_id") % 17 === 0 && col("doc_id") % 2 === 0)
          .crossJoin(broadcast(mx))
          .select((col("doc_id") + col("base_id")).as("doc_id"),
            lit(1L).as("del_seq")))
        .write.mode("overwrite").parquet(s"$p/deletes")
    }
  private val deleteVectors: Q = (s, d) => {
    val p = morPaths(s, d)
    val rows = s.read.parquet(s"$p/base")
      .unionByName(s.read.parquet(s"$p/append"))
    val dels = s.read.parquet(s"$p/deletes")
      .groupBy("doc_id").agg(max("del_seq").as("del_seq"))
    rows.join(dels, Seq("doc_id"), "left_outer")
      .filter(col("del_seq").isNull || col("del_seq") <= col("seq"))
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }
  private val deleteVectorsSql =
    """WITH mx AS (SELECT max(doc_id) + 1 AS base_id FROM documents),
rows_ AS (
  SELECT doc_id, lang, source, n_chars, 0 AS seq FROM documents
  UNION ALL
  SELECT d.doc_id + mx.base_id, 'xx', 'append', d.doc_id % 991, 1
  FROM documents d, mx WHERE d.doc_id % 17 = 0
), dels AS (
  SELECT doc_id, 1 AS del_seq FROM documents WHERE doc_id % 13 = 5
  UNION ALL
  SELECT d.doc_id + mx.base_id, 1
  FROM documents d, mx WHERE d.doc_id % 17 = 0 AND d.doc_id % 2 = 0
), dmax AS (
  SELECT doc_id, max(del_seq) AS del_seq FROM dels GROUP BY doc_id
)
SELECT r.doc_id, r.lang, r.source, r.n_chars
FROM rows_ r LEFT JOIN dmax dm ON r.doc_id = dm.doc_id
WHERE dm.del_seq IS NULL OR dm.del_seq <= r.seq
ORDER BY r.doc_id"""

  // -------------------------------------------------- join incremental
  /** Incremental JOIN-view maintenance — the delta-propagation rule
    * for materialized joins (ΔJ = ΔA ⋈ B when only A changed): the
    * orders⋈customer revenue-by-nation view is maintained by joining
    * ONLY the delta orders batch against customer and folding its
    * partial aggregates into the standing snapshot, never rescanning
    * the base fact. Complements [[summaryIncremental]] (aggregate IVM)
    * with the join half of the view-maintenance story; at 100 TB the
    * avoided work per refresh is the full base-fact join, the dominant
    * recurring cost of a naive reporting join. The snapshot is an
    * eager localCheckpoint — the delta path provably cannot re-read
    * the base relation. Counts sum as longs and revenue as exact
    * decimals (associative), so fold(snapshot, delta) is
    * hash-identical to the oracle's full recompute. */
  private val joinIncremental: Q = (s, d) => {
    val cust = Tables.raw(s, d, "customer").select("c_custkey", "c_nationkey")
    def partials(ords: DataFrame): DataFrame = ords
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
    val ords = Tables.raw(s, d, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val snapshot = partials(ords.filter(col("o_orderkey") % 10 =!= 0))
      .localCheckpoint()
    partials(ords.filter(col("o_orderkey") % 10 === 0))
      .unionByName(snapshot)
      .groupBy("c_nationkey")
      .agg(sum("n_orders").as("n_orders"), sum("rev").as("rev_w"))
      .select(col("c_nationkey"), col("n_orders"),
        round(col("rev_w").cast("double"), 2).as("revenue"))
      .orderBy("c_nationkey")
  }
  private val joinIncrementalSql =
    """SELECT c_nationkey, count(*) AS n_orders,
  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
    AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_nationkey ORDER BY c_nationkey"""

  // ------------------------------------------------------ quality checks
  /** Declarative data-quality audit — the dbt-test / Deequ-style
    * constraint suite a pipeline runs before promoting a batch: PK
    * uniqueness, FK integrity, domain membership, range bounds, and a
    * cross-table temporal rule, emitted as one (check, violations,
    * pass) report. Same-table scalar checks share ONE conditional-agg
    * scan per table (count(when(...)) columns stacked into rows — no
    * per-check scans); the relational checks (PK grouping, FK
    * anti-joins, ship-after-order join) are each one equi-join or one
    * grouping on the key they audit, the exact shuffles the constraint
    * semantics require. At 100 TB each check is embarrassingly
    * map-side except those key shuffles; nothing collects, and the
    * report is a fixed 10 rows. The synthetic lineitem generator does
    * NOT enforce (orderkey, linenumber) uniqueness, so the PK check
    * reports real violations — the report proves it can fail, not just
    * rubber-stamp. */
  private val qualityChecks: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val ord = Tables.orders(s, d)
    // Four lineitem checks in ONE pass (round 18, guide §2.4/§1.2):
    // the range checks, the FK check, and the ship-after-order check
    // previously cost three separate lineitem scans (one agg scan, one
    // left_anti join, one inner join); a single LEFT join against the
    // orders PK computes all four. Row-identical because o_orderkey is
    // the orders PRIMARY KEY (unique — the TPC-H schema contract this
    // face's own `orders_*` checks sit on): every lineitem row appears
    // exactly once in the join output, an unmatched FK surfaces as a
    // NULL o_orderkey (= the left_anti count), and the ship comparison
    // is NULL (uncounted) exactly where the inner join dropped the row.
    val liJoin = li
      .select(col("l_orderkey"), col("l_quantity"), col("l_discount"),
        col("l_shipdate"))
      .join(ord.select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"), "left")
      .agg(
        count(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1)).as("v0"),
        count(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1)).as("v1"),
        count(when(col("o_orderkey").isNull, 1)).as("v2"),
        count(when(col("l_shipdate") < col("o_orderdate"), 1)).as("v3"))
      .select(expr("stack(4, 'lineitem_qty_range', v0, " +
        "'lineitem_discount_range', v1, " +
        "'lineitem_fk_orders', v2, " +
        "'lineitem_ship_after_order', v3) as (check_name, violations)"))
    val ordScan = ord.agg(
      count(when(!col("o_orderstatus").isin("O", "F", "P"), 1)).as("v0"),
      count(when(col("o_orderdate").isNull, 1)).as("v1"))
      .select(expr("stack(2, 'orders_status_domain', v0, " +
        "'orders_date_nonnull', v1) as (check_name, violations)"))
    val evScan = Tables.events(s, d)
      .agg(count(when(col("user_id").isNull || col("value") <= 0, 1)).as("v0"))
      .select(lit("events_user_value_valid").as("check_name"),
        col("v0").as("violations"))
    val docScan = Tables.documents(s, d)
      .agg(count(when(!(col("n_chars") <=> length(col("text"))), 1)).as("v0"))
      .select(lit("documents_nchars_consistent").as("check_name"),
        col("v0").as("violations"))
    val pkDup = li.groupBy("l_orderkey", "l_linenumber")
      .agg(count(lit(1)).as("n")).filter(col("n") > 1)
      .agg(count(lit(1)).as("violations"))
      .select(lit("lineitem_pk_unique").as("check_name"), col("violations"))
    val fkOrd = ord.join(Tables.customer(s, d),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("violations"))
      .select(lit("orders_fk_customer").as("check_name"), col("violations"))
    liJoin.unionAll(ordScan).unionAll(evScan).unionAll(docScan)
      .unionAll(pkDup).unionAll(fkOrd)
      .withColumn("pass", col("violations") === 0)
      .orderBy("check_name")
  }
  private val qualityChecksSql = """WITH li AS (
  SELECT count(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50) AS v0,
    count(*) FILTER (WHERE l_discount < 0 OR l_discount > 0.1) AS v1
  FROM lineitem
), ord AS (
  SELECT count(*) FILTER (WHERE o_orderstatus NOT IN ('O', 'F', 'P')) AS v0,
    count(*) FILTER (WHERE o_orderdate IS NULL) AS v1
  FROM orders
), rep AS (
  SELECT 'lineitem_qty_range' AS check_name, v0 AS violations FROM li
  UNION ALL SELECT 'lineitem_discount_range', v1 FROM li
  UNION ALL SELECT 'orders_status_domain', v0 FROM ord
  UNION ALL SELECT 'orders_date_nonnull', v1 FROM ord
  UNION ALL SELECT 'events_user_value_valid',
    (SELECT count(*) FILTER (WHERE user_id IS NULL OR value <= 0) FROM events)
  UNION ALL SELECT 'documents_nchars_consistent',
    (SELECT count(*) FILTER (WHERE n_chars IS DISTINCT FROM length(text))
     FROM documents)
  UNION ALL SELECT 'lineitem_pk_unique',
    (SELECT count(*) FROM (SELECT 1 AS x FROM lineitem
      GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1))
  UNION ALL SELECT 'lineitem_fk_orders',
    (SELECT count(*) FROM lineitem l LEFT JOIN orders o
      ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL)
  UNION ALL SELECT 'orders_fk_customer',
    (SELECT count(*) FROM orders o LEFT JOIN customer c
      ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL)
  UNION ALL SELECT 'lineitem_ship_after_order',
    (SELECT count(*) FROM lineitem l JOIN orders o
      ON l.l_orderkey = o.o_orderkey WHERE l.l_shipdate < o.o_orderdate)
)
SELECT check_name, violations, violations = 0 AS pass
FROM rep ORDER BY check_name"""

  // --------------------------------------------- write-audit-publish
  /** The WAP (write-audit-publish) pattern — the lakehouse release
    * gate: a derived snapshot is STAGED to a scratch location, AUDITED
    * there (row count, null keys, non-positive measures), and
    * PUBLISHED — one atomic directory rename — only if every audit
    * passes; a failing audit leaves staging in place and publishes
    * nothing. Consumers only ever see fully-audited data. The
    * registered query runs the clean path and reports the decision
    * plus the published table's cardinality FROM THE PUBLISHED FILES
    * (not from intent — the oracle recomputes the expectation from
    * base data, so a silently-skipped publish hash-mismatches);
    * the audit-failure path (planted null key → no publish) is
    * spec-pinned via [[wapRun]]. Runs once per (app, dataset) through
    * the materialize memo like every storage face here. */
  private[graft] def wapRun(s: SparkSession, d: String,
                            plant: Boolean): DataFrame = {
    val name = if (plant) "wap-violating" else "wap-clean"
    val root = materialize(s, name, d) { p =>
      val staging = new org.apache.hadoop.fs.Path(p, "staging")
      val fs = staging.getFileSystem(s.sparkContext.hadoopConfiguration)
      val snap0 = Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("unix_millis(date_trunc('day', ts)) div 86400000")
            .as("day_num"))
        .agg(count(lit(1)).as("n_events"))
      val snap = if (plant)
        snap0.unionByName(s.range(1).select(
          lit(null).cast("string").as("event_type"),
          lit(0L).as("day_num"), lit(1L).as("n_events")))
      else snap0
      snap.coalesce(1).write.mode("overwrite").parquet(staging.toString)
      val staged = s.read.parquet(staging.toString)
      val bad = staged.filter(col("event_type").isNull ||
        col("n_events") <= 0).count()
      if (bad == 0 && staged.count() > 0)
        fs.rename(staging, new org.apache.hadoop.fs.Path(p, "published"))
    }
    val pubPath = new org.apache.hadoop.fs.Path(root, "published")
    val fs = pubPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(pubPath))
      s.read.parquet(pubPath.toString)
        .agg(count(lit(1)).as("n_rows_published"),
          countDistinct("event_type").as("n_types"))
        .select(lit(true).as("checks_passed"), lit(true).as("published"),
          col("n_rows_published"), col("n_types"))
    else {
      import s.implicits._
      Seq((false, false, 0L, 0L)).toDF("checks_passed", "published",
        "n_rows_published", "n_types")
    }
  }
  private val wapPublish: Q = (s, d) => wapRun(s, d, plant = false)
  private val wapPublishSql =
    """WITH cells AS (
  SELECT event_type, epoch_ms(date_trunc('day', ts)) // 86400000 AS day_num
  FROM events GROUP BY 1, 2
)
SELECT TRUE AS checks_passed, TRUE AS published,
  count(*) AS n_rows_published,
  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
FROM cells"""

  // ------------------------------------------------- snapshot diff
  /** Table reconciliation — the snapshot-diff report every migration /
    * replication / backfill validates with: two deterministic
    * "snapshots" of orders (v1 drops orderkey ≡ 0 mod 10; v2 instead
    * drops ≡ 1 mod 10 and re-prices ≡ 0 mod 7) are compared by a
    * single FULL OUTER join on the key with md5 row-hashes deciding
    * changed-vs-unchanged — added / removed / changed / unchanged
    * counts, exact. The row hash collapses arbitrary row width to one
    * 16-byte compare, so at 100 TB the diff is one co-partitionable
    * join on the key carrying (key, hash) only — never a column-wise
    * compare of wide rows — and at 10⁹ rows md5 collisions are
    * ~10⁻²⁰: the operational trade every diff tool makes. */
  private val snapshotDiff: Q = (s, d) => {
    val base = Tables.orders(s, d)
    def rowHash(price: org.apache.spark.sql.Column) = md5(concat_ws("|",
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      price.cast("decimal(18,2)").cast("string")))
    val v1 = base.filter(pmod(col("o_orderkey"), lit(10)) =!= 0)
      .select(col("o_orderkey").as("k"),
        rowHash(col("o_totalprice")).as("h1"))
    val v2 = base.filter(pmod(col("o_orderkey"), lit(10)) =!= 1)
      .select(col("o_orderkey").as("k"),
        rowHash(when(pmod(col("o_orderkey"), lit(7)) === 0,
          col("o_totalprice") * 1.1).otherwise(col("o_totalprice")))
          .as("h2"))
    v1.join(v2, Seq("k"), "full")
      .agg(
        sum(when(col("h1").isNull, 1L).otherwise(0L)).as("n_added"),
        sum(when(col("h2").isNull, 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("h1").isNotNull && col("h2").isNotNull &&
          col("h1") =!= col("h2"), 1L).otherwise(0L)).as("n_changed"),
        sum(when(col("h1") === col("h2"), 1L).otherwise(0L))
          .as("n_unchanged"))
  }
  private val snapshotDiffSql =
    """WITH v1 AS (
  SELECT o_orderkey AS k,
    md5(o_orderkey || '|' || o_custkey || '|' || o_orderstatus || '|'
        || CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)) AS h1
  FROM orders WHERE o_orderkey % 10 <> 0
), v2 AS (
  SELECT o_orderkey AS k,
    md5(o_orderkey || '|' || o_custkey || '|' || o_orderstatus || '|'
        || CAST(CAST(CASE WHEN o_orderkey % 7 = 0
             THEN o_totalprice * 1.1 ELSE o_totalprice END
           AS DECIMAL(18,2)) AS VARCHAR)) AS h2
  FROM orders WHERE o_orderkey % 10 <> 1
)
SELECT
  CAST(sum(CASE WHEN h1 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
  CAST(sum(CASE WHEN h2 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
  CAST(sum(CASE WHEN h1 IS NOT NULL AND h2 IS NOT NULL AND h1 <> h2
    THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
  CAST(sum(CASE WHEN h1 = h2 THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
FROM v1 FULL JOIN v2 USING (k)"""

  // ------------------------------------------------- column profiler
  /** Column-statistics profiler — the Deequ-Analyzer/ANALYZE-TABLE-
    * style per-column report (row count, null count, exact distinct
    * count, min, max) the constraint suite ([[qualityChecks]]) reads
    * BEFORE anyone writes constraints: profiling discovers the
    * invariants, checking then enforces them. One scan computes every
    * column's stats in a single aggregate (the count-distincts share
    * one Expand), then the wide row unpivots to the per-column report.
    * min/max ship as strings so the report schema is column-type-
    * agnostic (timestamps via epoch-ms to dodge cross-engine timestamp
    * rendering). At 100 TB this is the one-pass stats collection that
    * feeds CBO and layout decisions — never one scan per column. */
  private val columnProfile: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    def stats(c: org.apache.spark.sql.Column, tag: String) = Seq(
      sum(when(c.isNull, 1L).otherwise(0L)).as(s"nn_$tag"),
      countDistinct(c).as(s"nd_$tag"),
      min(c).cast("string").as(s"mn_$tag"),
      max(c).cast("string").as(s"mx_$tag"))
    val aggs = Seq(count(lit(1)).as("n")) ++
      stats(col("l_orderkey"), "ok") ++
      stats(col("l_partkey"), "pk") ++
      stats(col("l_returnflag"), "rf") ++
      // the loader yields TIMESTAMP_NTZ; session TZ is UTC, so the
      // cast-then-epoch matches the oracle's epoch_ms exactly
      stats(unix_millis(col("l_shipdate").cast("timestamp")), "sd")
    def row(name: String, tag: String) = struct(
      lit(name).as("col_name"), col("n").as("n_rows"),
      col(s"nn_$tag").as("n_null"), col(s"nd_$tag").as("n_distinct"),
      col(s"mn_$tag").as("min_s"), col(s"mx_$tag").as("max_s"))
    li.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(
        row("l_orderkey", "ok"), row("l_partkey", "pk"),
        row("l_returnflag", "rf"), row("l_shipdate_ms", "sd"))).as("p"))
      .select("p.*")
      .orderBy("col_name")
  }
  private val columnProfileSql = {
    def one(name: String, c: String) =
      s"""SELECT '$name' AS col_name, count(*) AS n_rows,
  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
  CAST(min($c) AS VARCHAR) AS min_s, CAST(max($c) AS VARCHAR) AS max_s
FROM lineitem"""
    Seq(one("l_orderkey", "l_orderkey"), one("l_partkey", "l_partkey"),
      one("l_returnflag", "l_returnflag"),
      one("l_shipdate_ms", "epoch_ms(l_shipdate)"))
      .mkString("", "\nUNION ALL ", "\nORDER BY col_name")
  }

  val queries: Map[String, Q] = Map(
    "infra_quality_checks" -> qualityChecks,
    "infra_column_profile" -> columnProfile,
    "infra_snapshot_diff" -> snapshotDiff,
    "infra_wap_publish" -> wapPublish,
    "infra_bucketed_join" -> bucketedJoin,
    "infra_skew_join" -> skewJoin,
    "infra_partitioned_scan" -> partitionedScan,
    "infra_minmax_skipping" -> minmaxSkipping,
    "infra_csv_roundtrip" -> csvRoundtrip,
    "infra_json_roundtrip" -> jsonRoundtrip,
    "infra_orc_roundtrip" -> orcRoundtrip,
    "infra_zorder_layout" -> zorderLayout,
    "infra_summary_rewrite" -> summaryRewrite,
    "infra_cdc_merge" -> cdcMerge,
    "infra_schema_evolution" -> schemaEvolution,
    "infra_summary_incremental" -> summaryIncremental,
    "infra_delete_vectors" -> deleteVectors,
    "infra_join_incremental" -> joinIncremental,
    "infra_bloom_skipping" -> bloomSkipping,
    "infra_time_travel" -> timeTravel,
    "infra_compaction" -> compaction,
    "infra_store_lifecycle" -> storeLifecycle,
    "infra_two_level_pruning" -> twoLevelPruning,
    "infra_vacuum" -> vacuum)

  val oracle: Map[String, String] = Map(
    "infra_quality_checks" -> qualityChecksSql,
    "infra_column_profile" -> columnProfileSql,
    "infra_snapshot_diff" -> snapshotDiffSql,
    "infra_wap_publish" -> wapPublishSql,
    "infra_bucketed_join" -> bucketedJoinSql,
    "infra_skew_join" -> skewJoinSql,
    "infra_partitioned_scan" -> partitionedScanSql,
    "infra_minmax_skipping" -> minmaxSkippingSql,
    "infra_csv_roundtrip" -> csvRoundtripSql,
    "infra_json_roundtrip" -> jsonRoundtripSql,
    "infra_orc_roundtrip" -> orcRoundtripSql,
    "infra_zorder_layout" -> zorderLayoutSql,
    "infra_summary_rewrite" -> summaryRewriteSql,
    "infra_cdc_merge" -> cdcMergeSql,
    "infra_schema_evolution" -> schemaEvolutionSql,
    "infra_summary_incremental" -> summaryIncrementalSql,
    "infra_delete_vectors" -> deleteVectorsSql,
    "infra_join_incremental" -> joinIncrementalSql,
    "infra_bloom_skipping" -> bloomSkippingSql,
    "infra_time_travel" -> timeTravelSql,
    "infra_compaction" -> compactionSql,
    "infra_store_lifecycle" -> storeLifecycleSql,
    "infra_two_level_pruning" -> twoLevelPruningSql,
    "infra_vacuum" -> vacuumSql)
}
