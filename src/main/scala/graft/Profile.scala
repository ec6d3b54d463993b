package graft

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
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      if (reps == 0) { // explain mode: dump the formatted physical plan
        println(s"===== $name =====")
        println(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      } else (1 to reps).foreach { r =>
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[profile] $name rep$r $dt%.2fs rows=$n")
      }
    }
    spark.stop()
  }
}
