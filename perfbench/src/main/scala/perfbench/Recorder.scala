package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** In-memory trace of the traced run: every job, completed stage attempt
  * and per-stage task aggregate, keyed by the job group the harness sets
  * around each call (`pb|pass|face|layer`). Nothing is written until
  * [[traceLines]] runs after the last pass. */
final class Recorder extends SparkListener {
  final class Job(val id: Int, val group: String, val startUs: Long) {
    @volatile var endUs: Long = startUs
  }
  final class Stage(val id: Int, val attempt: Int, val tasks: Int,
                    val startUs: Long, val endUs: Long, val m: Array[Double])
  // stage metric slots
  private val Names = Seq("task_s", "cpu_s", "gc_s", "shuffle_write_b",
    "shuffle_read_b", "spill_b", "input_records", "input_b", "output_b",
    "output_records")

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[(Int, Int), Stage]()
  private val schedDelayMs = new ConcurrentHashMap[(Int, Int), java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs.put(e.jobId, new Job(e.jobId, if (group == null) "" else group, e.time * 1000L))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endUs = e.time * 1000L)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (i != null && m != null) {
      val getting = if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L
      val delay = i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - getting
      schedDelayMs.merge((e.stageId, e.stageAttemptId), math.max(0L, delay), (a, b) => a + b)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    val v = if (m == null) Array.fill(Names.size)(0.0) else Array[Double](
      m.executorRunTime / 1e3, m.executorCpuTime / 1e9, m.jvmGCTime / 1e3,
      m.shuffleWriteMetrics.bytesWritten.toDouble,
      m.shuffleReadMetrics.totalBytesRead.toDouble,
      (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
      m.inputMetrics.recordsRead.toDouble, m.inputMetrics.bytesRead.toDouble,
      m.outputMetrics.bytesWritten.toDouble, m.outputMetrics.recordsWritten.toDouble)
    stages.put((si.stageId, si.attemptNumber()), new Stage(si.stageId, si.attemptNumber(),
      si.numTasks, si.submissionTime.getOrElse(0L) * 1000L,
      si.completionTime.getOrElse(0L) * 1000L, v))
  }

  def traceLines(samples: Seq[Harness.Sample], plans: Seq[(Int, String, PlanCounts)]): Seq[String] = {
    import Json.{num, str}
    def span(id: String, parent: String, kind: String, pass: Int, face: String,
             s: Long, e: Long, extra: String = ""): String =
      s"""{"type": "span", "id": ${str(id)}, "parent": ${if (parent == null) "null" else str(parent)}, """ +
        s""""kind": ${str(kind)}, "pass": $pass, "face": ${str(face)}, "start_us": $s, "end_us": $e$extra}"""

    val out = Seq.newBuilder[String]
    val layerGroups = scala.collection.mutable.Set.empty[String]
    samples.foreach { s =>
      val fid = s"p${s.pass}:${s.face}"
      val err = if (s.ok) "" else s""", "error": ${str(s.error)}"""
      out += span(fid, null, "face", s.pass, s.face, s.start, if (s.ok) s.exec else s.start, err)
      if (s.ok) Seq(("build", s.start, s.build), ("plan", s.build, s.plan), ("exec", s.plan, s.exec))
        .foreach { case (l, a, b) =>
          layerGroups += s"pb|${s.pass}|${s.face}|$l"
          out += span(s"$fid:$l", fid, l, s.pass, s.face, a, b)
        }
    }

    val jobsByGroup = jobs.values.asScala.toSeq.groupBy(_.group)
    val stagesByJob = stages.values.asScala.toSeq.groupBy(st => stageJob.getOrDefault(st.id, -1))
    jobsByGroup.toSeq.sortBy(_._1).foreach { case (group, js) =>
      val parts = group.split('|')
      val known = parts.length == 4 && parts(0) == "pb"
      val (pass, face, layer) = if (known) (parts(1).toInt, parts(2), parts(3)) else (-9, "", "other")
      // jobs of a timed layer hang under its span; check-write and
      // unattributed jobs have none
      val parent = if (layerGroups.contains(group)) s"p$pass:$face:$layer" else null
      val acc = Array.fill(Names.size)(0.0)
      var nStages, nTasks = 0
      var delayMs = 0L
      js.sortBy(_.id).foreach { j =>
        out += span(s"job:${j.id}", parent, "job", pass, face, j.startUs, j.endUs)
        stagesByJob.getOrElse(j.id, Nil).sortBy(st => (st.id, st.attempt)).foreach { st =>
          nStages += 1
          nTasks += st.tasks
          delayMs += Option(schedDelayMs.get((st.id, st.attempt))).map(_.longValue).getOrElse(0L)
          st.m.indices.foreach(i => acc(i) += st.m(i))
          out += span(s"stage:${st.id}.${st.attempt}", s"job:${j.id}", "stage", pass, face,
            st.startUs, st.endUs, s""", "tasks": ${st.tasks}""")
        }
      }
      val fields = Names.indices.map(i => s"${str(Names(i))}: ${num(acc(i))}")
      out += (s"""{"type": "counters", "pass": $pass, "face": ${str(face)}, "layer": ${str(layer)}, """ +
        s""""jobs": ${js.size}, "stages": $nStages, "tasks": $nTasks, "sched_delay_s": ${num(delayMs / 1e3)}, """ +
        s"""${fields.mkString(", ")}}""")
    }
    plans.foreach { case (pass, face, c) =>
      out += s"""{"type": "plan", "pass": $pass, "face": ${str(face)}, "exchanges": ${c.exchanges}, """ +
        s""""cache_scans": ${c.cacheScans}, "file_scans": ${c.fileScans}, "leaves": ${c.leaves}}"""
    }
    out.result()
  }
}
