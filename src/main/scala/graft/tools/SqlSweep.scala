package graft.tools

import graft.{GraftSession, SparkEntry}
import graft.queries.SqlQueries
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** SQL-face coverage sweep: attempts every registered oracle string
  * through `spark.sql` against the temp-view catalog and classifies it.
  *
  *   ANALYZE_FAIL  — DuckDB-dialect string Spark cannot resolve
  *                   (strftime, unnest-CTEs, list slicing, ...)
  *   EXEC_FAIL     — analyzes but fails at runtime
  *   DIFF n/m      — runs but differs from the DataFrame face (row-sorted
  *                   string compare; a genuine dialect-semantics gap,
  *                   e.g. integer `/`, NULL ordering)
  *   MATCH         — the SQL text is a faithful second face of the query:
  *                   promotable to a registered `sql_*` entry
  *
  * Run: `runMain graft.tools.SqlSweep [sfDir]`. SqlSweepSpec runs the
  * same classification in-suite and pins the coverage floor; this main
  * is the human-readable report behind the README coverage number. */
object SqlSweep {
  def classify(s: SparkSession, d: String,
               execute: Boolean = true): Map[String, String] = {
    SqlQueries.registerViews(s, d)
    val skip = SqlQueries.queries.keySet // already the SQL face
    SparkEntry.oracleSql.filterNot(k => skip(k._1)).map { case (name, sql) =>
      val status =
        try {
          val viaSql = s.sql(sql)
          viaSql.queryExecution.assertAnalyzed()
          if (!execute) "ANALYZES"
          else try {
            val a = viaSql.collect().map(_.toSeq.map(String.valueOf))
              .sortBy(_.mkString("|"))
            val b = SparkEntry.queries(name)(s, d).collect()
              .map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|"))
            if (a.sameElements(b)) "MATCH"
            else s"DIFF ${a.length}/${b.length}"
          } catch { case NonFatal(e) =>
            s"EXEC_FAIL ${e.getClass.getSimpleName}"
          }
        } catch { case NonFatal(e) =>
          val msg = Option(e.getMessage).getOrElse("").linesIterator
            .take(1).mkString.take(90)
          s"ANALYZE_FAIL $msg"
        }
      name -> status
    }
  }

  def main(args: Array[String]): Unit = {
    val d = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val s = GraftSession.local(GraftSession.cpus,
      java.nio.file.Files.createTempDirectory("graft-wh-sweep").toString)
    val res = classify(s, d)
    res.toSeq.sortBy(_._1).foreach { case (n, st) => println(s"$n: $st") }
    val m = res.values.count(_ == "MATCH")
    println(s"SWEEP ${res.size} attempted, $m MATCH, " +
      s"${res.values.count(_.startsWith("DIFF"))} DIFF, " +
      s"${res.values.count(_.startsWith("EXEC"))} EXEC_FAIL, " +
      s"${res.values.count(_.startsWith("ANALYZE"))} ANALYZE_FAIL")
  }
}
