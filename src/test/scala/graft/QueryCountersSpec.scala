package graft

import org.apache.spark.sql.GraftDatasetBridge
import org.apache.spark.sql.functions.col

/** `QueryCounters` charges jobs, tasks, shuffle-write bytes and input
  * records to the job group that launched them, and nothing to a job
  * without one. */
class QueryCountersSpec extends SparkSpec {
  private def sc = spark.sparkContext

  /** Runs `body` once per group (untagged when `group` is null) with a
    * fresh collector and returns it drained. */
  private def counted(groups: String*)(body: => Unit): QueryCounters = {
    val c = new QueryCounters
    sc.addSparkListener(c)
    try groups.foreach { g =>
      if (g != null) sc.setJobGroup(g, g)
      try body finally sc.clearJobGroup()
    } finally {
      GraftDatasetBridge.drain(sc)
      sc.removeSparkListener(c)
    }
    c
  }

  private val Jobs = 0
  private val Tasks = 1
  private val InputRecords = 3

  test("counters land under their job group") {
    val c = counted("qc|scan") {
      Tables.lineitem(spark, Sf).where(col("l_quantity") < 10).count()
    }
    assert(c.groups == Set("qc|scan"))
    val v = c("qc|scan")
    assert(v(Jobs) >= 1 && v(Tasks) >= 1, v)
    assert(v(InputRecords) > 0, v)
  }

  test("two runs of one face give equal jobs, tasks and input records") {
    val face = SparkEntry.queries("tpch_top_orders")
    face(spark, Sf).count() // first touch: table resolution, codegen
    val c = counted("qc|run1", "qc|run2")(face(spark, Sf).count())
    val (a, b) = (c("qc|run1"), c("qc|run2"))
    assert(a(Jobs) >= 1, a)
    Seq(Jobs, Tasks, InputRecords).foreach(i => assert(a(i) == b(i), s"$a vs $b"))
  }

  test("repartition(7) adds at least one job and seven tasks") {
    val face = SparkEntry.queries("tpch_top_orders")(spark, Sf)
    face.collect()
    val base = counted("qc|base")(face.collect())("qc|base")
    val more = counted("qc|more")(face.repartition(7).collect())("qc|more")
    assert(more(Jobs) >= base(Jobs) + 1, s"$base -> $more")
    assert(more(Tasks) >= base(Tasks) + 7, s"$base -> $more")
  }

  test("a job launched with no group is charged to no face") {
    val c = counted("qc|tagged", null)(spark.range(1000).repartition(3).collect())
    assert(c.groups == Set("qc|tagged"))
    val tagged = counted("qc|tagged")(spark.range(1000).repartition(3).collect())
    Seq(Jobs, Tasks, InputRecords).foreach(i =>
      assert(c("qc|tagged")(i) == tagged("qc|tagged")(i),
        s"the untagged run added to the tagged group: ${c("qc|tagged")} vs ${tagged("qc|tagged")}"))
  }
}
