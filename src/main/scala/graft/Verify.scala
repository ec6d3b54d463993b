package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB compare of
  * `scripts/oracle_check.py`. A face that throws is written to
  * `verify_errors.json` (name → error) and makes the run exit 1 after
  * every other face has been dumped. */
object Verify {
  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in hand-written SQL would otherwise make the
  // checker's json.load fail and silently zero the correctness check.
  private[graft] def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg (comma-separated names): run only those queries —
    // local iteration aid; the driver passes exactly 2 args.
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession.local(GraftSession.cpus, "/tmp/graft-warehouse-verify")
    new java.io.File(outDir).mkdirs()
    val errors = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name -> s"${e.getClass.getName}: ${e.getMessage}")
        }
      }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"),
      errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    graft.pipeline.CachePool.release() // suite boundary: drop pinned corpora
    spark.stop()
    if (errors.nonEmpty) {
      System.err.println(s"[verify] ${errors.size} face(s) failed, see verify_errors.json")
      sys.exit(1)
    }
  }
}
