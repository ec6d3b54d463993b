package graft
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** The one local SparkSession configuration: `Bench`, `Verify`,
  * `Profile`, `tools.SqlSweep` and the test suite all build their
  * session here, so the tests run the config the mains run. Callers
  * pass their core count and their managed-table home (the warehouse
  * is a deployment setting, kept out of the repo working dir, which is
  * Spark's default location). */
object GraftSession {
  /** Local cores for the mains: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def local(cpus: Int, warehouse: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // AQE coalescing with a parallelism floor: unbounded coalescing
      // collapses byte-small-but-compute-heavy shuffles (hash fan-outs,
      // candidate joins) to 1 partition and serializes them; with no
      // coalescing every tiny stage pays 32-task scheduling overhead.
      // On a real 100 TB input byte sizes are honest and the floor is
      // irrelevant.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionNum",
        math.max(4, cpus / 4).toString)
      // 30+ distinct query plans overflow the default 100-entry codegen
      // cache: a timed pass would recompile what the warmup compiled.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // let one-file-per-bucket scans advertise their in-bucket sort
      // (required by the layout-served as-of face; see BucketedStore)
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // corpora are cached per query and deduped by canonical plan —
    // CacheManager's "already cached" WARN per query is by design here
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.CacheManager",
      org.apache.logging.log4j.Level.ERROR)
    // every cache()/persist clones the session (CacheManager turns
    // autoBucketedScan off on the clone), and each clone re-runs
    // GraftExtensions' injectFunction calls: the registry WARNs "replaced
    // a previously registered function" 16 times per cache. FunctionsSpec
    // pins that the injected names never clash with a built-in.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }

  private val scratchRoots = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()

  /** The application's scratch root, `/tmp/graft-scratch/<applicationId>`,
    * for layouts and summaries a run materializes once and reads back.
    * The root is deleted with everything in it when the JVM exits, so
    * finished runs leave nothing behind. */
  def scratch(s: SparkSession): String = {
    val root = Paths.get("/tmp/graft-scratch", s.sparkContext.applicationId)
    if (scratchRoots.add(root)) sys.addShutdownHook(deleteRecursively(root))
    root.toString
  }

  /** Delete `root` and everything under it, if it exists. */
  private[graft] def deleteRecursively(root: Path): Unit =
    if (Files.exists(root)) {
      val paths = Files.walk(root)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally paths.close()
    }
}
