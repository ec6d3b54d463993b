package graft

import org.apache.logging.log4j.{Level, LogManager}

/** The suite runs the mains' session: `SparkSpec.session` is built by
  * [[GraftSession.local]], so a config the mains depend on is a
  * config every spec runs under. */
class GraftSessionSpec extends SparkSpec {

  test("codegen cache holds 5000 entries") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "5000")
  }

  test("AQE coalescing keeps its parallelism floor") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionNum") == "4")
  }

  test("shuffle partitions follow the 4 test cores") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("graft_cosine resolves through the session extensions") {
    val v = spark.sql(
      "SELECT graft_cosine(array(3.0D, 4.0D), array(4.0D, 3.0D)) AS c")
      .head().getDouble(0)
    assert(math.abs(v - 24.0 / 25.0) < 1e-12)
  }

  test("UTC, bucketed scan ordering, and CacheManager at ERROR") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.bucketedTableScan.outputOrdering") == "true")
    assert(LogManager.getLogger("org.apache.spark.sql.execution.CacheManager")
      .getLevel == Level.ERROR)
  }

  test("function re-registration on session clones logs at ERROR only") {
    assert(LogManager.getLogger(
      "org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry")
      .getLevel == Level.ERROR)
  }
}
