package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, sum}

/** `Tables` resolves each table once per session: later calls return a
  * fresh instance of the resolved relation without a job or a file
  * listing, and a stopped session's tables are dropped. */
class TablesSpec extends SparkSpec {

  test("a second Tables.lineitem call launches no job and discovers no file") {
    Tables.lineitem(spark, Sf) // first touch resolves the table
    Thread.sleep(300)
    @volatile var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs += 1
    }
    val files = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
    spark.sparkContext.addSparkListener(listener)
    try {
      Tables.lineitem(spark, Sf)
      Tables.raw(spark, Sf, "lineitem")
      Thread.sleep(500) // the listener bus is asynchronous
      assert(jobs == 0, s"a resolved table launched $jobs job(s)")
      assert(HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount == files,
        "a resolved table listed its files again")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("two calls have disjoint exprIds and their self-join resolves") {
    val a = Tables.lineitem(spark, Sf)
    val b = Tables.lineitem(spark, Sf)
    val ids = (df: org.apache.spark.sql.DataFrame) =>
      df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(a).intersect(ids(b)).isEmpty)
    val joined = a.join(b, a("l_orderkey") === b("l_orderkey") &&
      a("l_linenumber") === b("l_linenumber"))
    // each key seen n times pairs up n * n times
    val expected = a.groupBy("l_orderkey", "l_linenumber").count()
      .agg(sum(col("count") * col("count"))).head().getLong(0)
    assert(joined.count() == expected)
  }

  test("a stopped session's tables are dropped") {
    // a JVM holds one SparkContext and this suite shares it, so the
    // session is started and stopped in a child JVM
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(_.startsWith("-agentlib"))
    val cmd = Seq(s"${sys.props("java.home")}/bin/java") ++ jvmArgs ++
      Seq("-Xmx1g", "-cp", sys.props("java.class.path"), "graft.TablesStopCheck", Sf)
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).mkString
    assert(p.waitFor() == 0, out)
    assert(out.contains("held before stop: 1"), out)
    assert(out.contains("held after stop: 0"), out)
  }
}

/** Child-JVM half of TablesSpec's stop test. */
object TablesStopCheck {
  def main(args: Array[String]): Unit = {
    val s = GraftSession.local(1, SparkSpec.tempDir("graft-warehouse"))
    Tables.lineitem(s, args(0)).count()
    println(s"held before stop: ${Tables.sessionsHeld}")
    s.stop()
    println(s"held after stop: ${Tables.sessionsHeld}")
  }
}
