package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Execution counters per job group: jobs, completed-stage tasks,
  * shuffle-write bytes and input records. A caller tags the work it
  * wants charged with `SparkContext.setJobGroup`; jobs with no group are
  * charged to nothing. Events arrive asynchronously, so drain the bus
  * (`GraftDatasetBridge.drain`) before reading. */
final class QueryCounters extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val acc = new ConcurrentHashMap[String, Vector[Long]]()

  private def add(group: String, delta: Vector[Long]): Unit =
    acc.merge(group, delta, (a, b) => a.lazyZip(b).map(_ + _))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        add(g, Vector(1L, 0L, 0L, 0L))
        // a stage reused from an earlier job stays with that job's group
        e.stageIds.foreach(stageGroup.putIfAbsent(_, g))
      }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    Option(stageGroup.get(si.stageId)).foreach { g =>
      val m = si.taskMetrics
      add(g, Vector(0L, si.numTasks.toLong,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.inputMetrics.recordsRead))
    }
  }

  /** `[jobs, tasks, shuffle_write_b, input_records]` charged to `group`
    * (zeros if none). */
  def apply(group: String): Vector[Long] =
    Option(acc.get(group)).getOrElse(Vector.fill(4)(0L))

  def groups: Set[String] = acc.keySet.asScala.toSet
}
