package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites
  * run sequentially under sbt's forked test JVM).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String): String = s"/root/testdata/$dir"

  private val tempDirs = new ConcurrentLinkedQueue[Path]()

  /** A fresh `java.io.tmpdir` dir named `prefix…`, deleted with its
    * contents when the suite ends.
    */
  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d
  }

  override protected def afterAll(): Unit =
    try tempDirs.forEach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
    finally super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // A Janino compile failure normally falls back to interpreted
      // execution with only a log line — a silent throughput cliff at
      // scale. Failing hard here means any expression that outgrows
      // whole-stage codegen breaks the suite instead of limping through
      // (this caught the 32-term unrolled Morton interleave).
      .config("spark.sql.codegen.fallback", "false")
      // the library's extensions, as Bench/Verify run them — every
      // spec exercises the FastRound rewrite path
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
