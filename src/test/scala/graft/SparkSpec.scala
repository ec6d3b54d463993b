package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for the suite (one JVM-wide session keeps
  * the suite fast — codegen/JIT warmup is paid once). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  /** Fixture root, overridable per machine (ADVICE r10: specs
    * hard-coding /root/testdata mis-skip elsewhere). */
  lazy val TestData: String =
    sys.env.getOrElse("GRAFT_TEST_DATA", "/root/testdata")
  lazy val Sf: String = s"$TestData/sf0.001"
  /** The CORRECTNESS-run corpus — scale-contract tests state their
    * claims against this SF. */
  lazy val SfMid: String = s"$TestData/sf0.01"
  /** Cancel (not fail) when a fixture SF is absent on this machine. */
  def requireFixture(path: String): Unit =
    assume(new java.io.File(path).isDirectory, s"fixture $path not present")
}

object SparkSpec {
  /** The mains' session ([[GraftSession.local]]) on 4 cores, with a
    * throwaway managed-table home for the bucketed-store tests. */
  lazy val session: SparkSession = GraftSession.local(4, tempDir("graft-warehouse"))

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]
  sys.addShutdownHook(tempDirs.forEach(GraftSession.deleteRecursively))

  /** A fresh directory under the system temp dir, deleted with
    * everything in it when the JVM exits: the suite's scratch roots
    * and warehouse never outlive the run. */
  def tempDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix)
    tempDirs.add(dir)
    dir.toString
  }
}
