package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, GraftDatasetBridge, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Loaders for the driver-generated parquet tables (see TESTDATA.md).
  *
  * All tables are plain parquet under `sfDir`; reading them through one
  * helper keeps scan options uniform and gives Catalyst a clean
  * `FileSourceScanExec` it can push filters/projections into.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** A table resolved once per session: the analysed relation (file
    * listing and inferred schema included) and the partition count of
    * its scan. */
  private final class Scan(spark: SparkSession, val relation: LogicalRelation) {
    lazy val partitions: Int =
      GraftDatasetBridge.ofRows(spark, relation).rdd.getNumPartitions
  }

  // Per session and path. Parquet schema inference is a footer-read job
  // and the file listing a file-system walk; testdata files are
  // immutable, so both are paid once per session and every later call
  // is job-free and listing-free (pinned by SurprisalSpec and
  // TablesSpec). The relation holds its session, so a weak key would
  // never clear: a session's entries are dropped when its SparkContext
  // stops instead.
  private val scans =
    new ConcurrentHashMap[SparkSession, ConcurrentHashMap[String, Scan]]()

  private def resolve(spark: SparkSession, sfDir: String, name: String): Scan =
    scans.computeIfAbsent(spark, { s =>
      val sc = s.sparkContext
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          scans.keySet.removeIf(_.sparkContext eq sc)
      })
      new ConcurrentHashMap[String, Scan]()
    }).computeIfAbsent(s"$sfDir/$name.parquet", { path =>
      val rel = spark.read.parquet(path).queryExecution.analyzed
      new Scan(spark, rel.asInstanceOf[LogicalRelation])
    })

  /** Sessions that hold resolved tables (test hook). */
  private[graft] def sessionsHeld: Int = scans.size

  /** Every call returns a fresh instance of the session's resolved
    * relation: its new exprIds keep a self-join of two calls
    * unambiguous, and nothing is listed or planned again. */
  private def scan(spark: SparkSession, rel: LogicalRelation): DataFrame =
    GraftDatasetBridge.ofRows(spark, rel.newInstance())

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // Single-file tables scan as ONE task, and Catalyst evaluates
    // scan-stage projections/filters inside that task — any
    // compute-heavy query over a small table would single-thread its
    // hottest stage (measured: random 30-90 s stalls). An explicit
    // repartition count restores parallelism for those — but ONLY when
    // the scan would actually under-parallelize: an unconditional
    // repartition of a multi-file table is a full-input shuffle AND
    // caps scan parallelism at numShufflePartitions, which at 100 TB is
    // the dominant cost of every query. The guard is always added here;
    // where its rows reach the next exchange through cheap operators
    // only, it parallelises nothing and [[graft.plans.PruneScanGuard]]
    // removes it from the physical plan.
    val t = resolve(spark, sfDir, name)
    val df = scan(spark, t.relation)
    val target = spark.sessionState.conf.numShufflePartitions
    if (t.partitions < target) df.repartition(target) else df
  }

  /** Raw scan without the parallelism guard — for consumers that
    * immediately impose their own partitioning (the cached corpora
    * repartition by doc_id before materializing; a round-robin exchange
    * in front of that is a pure waste, observed in the plan audit).
    * [[graft.plans.PruneScanGuard]] would keep the guard there, since
    * the corpora build strings before their exchange, so these callers
    * choose the raw scan themselves. Also the guard-free reference the
    * scan-guard tests compare against. */
  def raw(spark: SparkSession, sfDir: String, name: String): DataFrame =
    scan(spark, resolve(spark, sfDir, name).relation)

  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = apply(s, d, "lineitem")
  /** `events.ts` arrives in whatever precision the generator wrote:
    * TIMESTAMP(NANOS) (which Spark 4 refuses to read natively —
    * PARQUET_TYPE_ILLEGAL — so the legacy flag surfaces it as raw
    * nanos LONG), µs TIMESTAMP_NTZ, or a session-tz TIMESTAMP.
    * Normalize all three to the µs TimestampType every downstream
    * window/date function was built against (session tz is pinned
    * UTC, so the NTZ→LTZ cast is value-preserving). */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = apply(s, d, "events")
    df.schema("ts").dataType match {
      case LongType => // ns-since-epoch: integer div (double would overflow)
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => df
      case _ => df.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
