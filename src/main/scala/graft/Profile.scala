package graft
import org.apache.spark.sql.SparkSession

/** Dev-loop profiler: run named SparkEntry queries N times in one JVM
  * and print per-rep wall times. Not part of the driver contract —
  * exists because single-run numbers on this host are noise (multi-
  * second contention windows inflate trivial queries 10-30x); rep
  * timings in one JVM separate plan cost from host noise.
  *
  * Usage: runMain graft.Profile <sfDir> <name1,name2> [reps=3]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = GraftSession.local(GraftSession.cpus, "/tmp/graft-warehouse-profile")
    val timed = names.flatMap { name =>
      val fn = SparkEntry.queries(name)
      if (reps == 0) { // explain mode: dump the formatted physical plan
        println(s"===== $name =====")
        println(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        None
      } else Some(name -> (1 to reps).map { r =>
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[profile] $name rep$r $dt%.2fs rows=$n")
        dt
      })
    }
    // machine-readable tail for scripts/profile_flags.py: rep times of
    // a cold session (fresh JVM, only the probed queries' state
    // resident) with the session state counts as covariates
    if (timed.nonEmpty) {
      def fmt(v: Double): String =
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
      val qobj = timed.map { case (n, ts) =>
        "\"" + n + "\":[" + ts.map(fmt).mkString(",") + "]"
      }.mkString("{", ",", "}")
      println(residencyLine(qobj, spark, sfDir))
    }
    spark.stop()
  }

  /** One parseable JSON line: per-query rep times plus the session
    * state counts that distinguish a cold boot from a long-lived JVM. */
  private def residencyLine(qobj: String, spark: SparkSession,
      sfDir: String): String = {
    val cov = "{" +
      s""""cachePool":${graft.pipeline.CachePool.poolSize},""" +
      s""""memoEntries":${graft.pipeline.CachePool.memoSize},""" +
      s""""centroidRegistry":${graft.functions.CentroidModels.registrySize},""" +
      s""""groupedRegistry":${graft.functions.GroupedCentroidModels.registrySize},""" +
      s""""catalogTables":${spark.catalog.listTables().count()}""" + "}"
    s"""{"metric":"residency_probe","mode":"cold","queries":$qobj,""" +
      s""""covariates":$cov,"sf":"$sfDir"}"""
  }
}
