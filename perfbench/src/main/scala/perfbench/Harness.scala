package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.FileSourceScanExec

/** Times `SparkEntry.queries` faces from outside the program, one JVM per
  * run, in three phases:
  *
  *  - set-up: session start plus one warm-up execution of every face on
  *    the small warm-up tables;
  *  - first pass: one cold pass on the benchmark tables, after which each
  *    face's first-pass result is written (untimed, four at a time) for
  *    the oracle check;
  *  - steady passes: at least [[MinSteady]], repeated until `seconds`
  *    have elapsed.
  *
  * Each face is timed as three calls: `fn(spark, dir)` (build),
  * `df.queryExecution.executedPlan` (plan) and `df.count()` (execute).
  * Face order is a fresh seeded permutation per pass. A face that throws
  * is recorded with its error and no times.
  *
  * Modes (`key=value` arguments):
  *   mode=list out=F   write every face name and its oracle SQL to F
  *   mode=run  faces=a,b,.. data=D warm=W seed=N seconds=S trace=0|1
  *             out=DIR [inject_throw=NAME]
  *
  * `trace=1` registers a listener that attributes jobs to (pass, face,
  * layer) by job group and writes spans and counters to `DIR/trace.jsonl`.
  */
object Harness {
  private val Cpus = 4
  // suite_s is a median over steady passes; the first steady pass is
  // still JIT-warming, so take at least three
  private val MinSteady = 3

  def main(args: Array[String]): Unit = {
    val o = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    o("mode") match {
      case "list" => list(o("out"))
      case "run" => run(o)
      case m => sys.error(s"unknown mode $m")
    }
  }

  private def list(out: String): Unit = {
    val faces = graft.SparkEntry.queries.keys.toSeq.sorted
    val oracle = graft.SparkEntry.oracleSql
    val body = faces.map(f => s"${Json.str(f)}: ${oracle.get(f).map(Json.str).getOrElse("null")}")
    Files.writeString(Paths.get(out), body.mkString("{\n", ",\n", "\n}\n"))
  }

  /** The session `graft.Bench` builds, with its scratch dirs under `out`. */
  private def session(out: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionNum",
        math.max(4, Cpus / 4).toString)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.local.dir", s"$out/local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  final case class Sample(pass: Int, face: String, start: Long,
                          build: Long, plan: Long, exec: Long,
                          rows: Long, error: String) {
    def ok: Boolean = error == null
  }

  private def run(o: Map[String, String]): Unit = {
    val out = o("out")
    val seed = o("seed").toLong
    val trace = o("trace") == "1"
    val all = graft.SparkEntry.queries
    val forced = o.get("inject_throw").toSeq
    val fns: Map[String, (SparkSession, String) => DataFrame] = all ++ forced.map(n =>
      n -> ((_: SparkSession, _: String) => throw new IllegalStateException(s"forced failure in $n")))
    val faces = o("faces").split(",").toSeq.filter(_.nonEmpty)
    faces.foreach(f => require(fns.contains(f), s"unknown face $f"))

    val clock = new Clock
    val t0 = clock.now()
    val spark = session(out)
    val sc = spark.sparkContext
    val recorder = if (trace) Some(new Recorder) else None
    recorder.foreach(sc.addSparkListener)
    val sessionUs = clock.now() - t0

    val samples = mutable.ArrayBuffer.empty[Sample]
    val plans = mutable.ArrayBuffer.empty[(Int, String, PlanCounts)]
    def face(pass: Int, name: String, dir: String): (Sample, DataFrame) = {
      val tag = s"pb|$pass|$name|"
      var layer = "build"
      var df: DataFrame = null
      var rows = -1L
      var error: String = null
      val start = clock.now()
      var b, p, e = start
      try {
        sc.setJobGroup(tag + "build", name)
        df = fns(name)(spark, dir)
        b = clock.now(); layer = "plan"
        sc.setJobGroup(tag + "plan", name)
        df.queryExecution.executedPlan
        p = clock.now(); layer = "exec"
        sc.setJobGroup(tag + "exec", name)
        rows = df.count()
        e = clock.now()
      } catch {
        case NonFatal(x) => error = s"$layer: ${x.getClass.getName}: ${x.getMessage}".take(500)
      }
      sc.clearJobGroup()
      if (error == null && recorder.isDefined)
        plans += ((pass, name, PlanCounts(df.queryExecution.executedPlan)))
      (Sample(pass, name, start, b, p, e, rows, error), if (error == null) df else null)
    }
    def pass(n: Int, dir: String): (Long, Seq[(String, DataFrame)]) = {
      val s = clock.now()
      val dfs = permutation(faces, seed, n).map { f =>
        val (sample, df) = face(n, f, dir)
        samples += sample
        f -> df
      }
      (clock.now() - s, dfs.filter(_._2 != null))
    }
    /** Untimed: write each first-pass result for the oracle check, four
      * at a time. Returns the faces whose write failed. */
    def check(dfs: Seq[(String, DataFrame)]): Map[String, String] = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(Cpus)
      try {
        dfs.map { case (name, df) =>
          pool.submit(new java.util.concurrent.Callable[Option[(String, String)]] {
            def call(): Option[(String, String)] = try {
              sc.setJobGroup(s"pb|0|$name|check", name)
              df.coalesce(1).write.mode("overwrite").parquet(s"$out/check/$name")
              None
            } catch {
              case NonFatal(x) => Some(name -> s"check: ${x.getClass.getName}: ${x.getMessage}".take(500))
            } finally sc.clearJobGroup()
          })
        }.flatMap(_.get()).toMap
      } finally pool.shutdown()
    }

    pass(-1, o("warm"))
    val setupUs = clock.now() - t0
    val (firstUs, firstDfs) = pass(0, o("data"))
    val checkErrors = check(firstDfs)
    val steadyStart = clock.now()
    val seconds = o("seconds").toDouble
    var n = 1
    while (n <= MinSteady || (clock.now() - steadyStart) / 1e6 < seconds) {
      pass(n, o("data"))
      n += 1
    }
    val steadyUs = clock.now() - steadyStart
    val cacheBytes = sc.getRDDStorageInfo.map(_.memSize).sum

    val res = new StringBuilder("{\n")
    def field(k: String, v: String): Unit = res ++= s"${Json.str(k)}: $v,\n"
    field("setup_s", Json.num(setupUs / 1e6))
    field("session_s", Json.num(sessionUs / 1e6))
    field("first_pass_wall_s", Json.num(firstUs / 1e6))
    field("steady_wall_s", Json.num(steadyUs / 1e6))
    field("cpus", Cpus.toString)
    field("cache_bytes", cacheBytes.toString)
    field("pool_size", graft.pipeline.CachePool.poolSize.toString)
    field("pool_memo", graft.pipeline.CachePool.memoSize.toString)
    field("check_errors", checkErrors.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }
      .mkString("{", ", ", "}"))
    res ++= "\"samples\": [\n" + samples.map { s =>
      Seq(s.pass.toString, Json.str(s.face), Json.num((s.build - s.start) / 1e6),
        Json.num((s.plan - s.build) / 1e6), Json.num((s.exec - s.plan) / 1e6),
        s.rows.toString, Option(s.error).map(Json.str).getOrElse("null")).mkString("[", ", ", "]")
    }.mkString(",\n") + "\n]\n}\n"
    Files.writeString(Paths.get(s"$out/harness.json"), res.toString)

    recorder.foreach { r =>
      PerfbenchBus.drain(sc)
      Files.writeString(Paths.get(s"$out/trace.jsonl"), r.traceLines(samples.toSeq, plans.toSeq).mkString("\n") + "\n")
    }
    spark.stop()
  }

  /** Seeded Fisher-Yates permutation, fresh for every pass. */
  def permutation(faces: Seq[String], seed: Long, pass: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed * 1000003L + pass)
    rnd.shuffle(faces.sorted)
  }
}

/** Epoch microseconds read from the monotonic clock, so spans compare with
  * the listener's epoch-millisecond job and stage times. */
final class Clock {
  private val epochUs = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def now(): Long = epochUs + (System.nanoTime() - nano0) / 1000L
}

/** Static counts over a planned DataFrame's physical plan, descending
  * through adaptive wrappers, query stages and subqueries. */
final case class PlanCounts(exchanges: Int, cacheScans: Int, fileScans: Int, leaves: Int)

object PlanCounts {
  def apply(plan: SparkPlan): PlanCounts = {
    var ex, cache, file, leaves = 0
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _: ReusedExchangeExec => // served by an exchange counted where it runs
      case _ =>
        p match {
          case _: Exchange => ex += 1
          case _: InMemoryTableScanExec => cache += 1
          case _: FileSourceScanExec | _: BatchScanExec => file += 1
          case _ =>
        }
        if (p.children.isEmpty) leaves += 1
        p.children.foreach(walk)
        p.subqueries.foreach(walk)
    }
    walk(plan)
    PlanCounts(ex, cache, file, leaves)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
}
