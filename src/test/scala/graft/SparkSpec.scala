package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
object SparkSpec {
  /** The bench session at 4 cores: tests exercise the bench's analyzer
    * surface — notably the SQL DML rule (GraftDmlRule), which cannot be
    * added to an already-built session. */
  lazy val spark: SparkSession = GraftSession.harness("graft-test", 4)

  private val tmpDirs = new ConcurrentLinkedQueue[Path]()

  sys.addShutdownHook(tmpDirs.forEach(deleteTree)): Unit

  def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p) && !Files.isSymbolicLink(p)) {
      val children = Files.list(p)
      try children.toArray(n => new Array[Path](n)).foreach(deleteTree)
      finally children.close()
    }
    Files.deleteIfExists(p): Unit
  }

  /** A fresh temp dir, deleted recursively when the test JVM exits. Every
    * spec's temp dir comes from here, so a test run leaves none behind. */
  def tmpPath(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    tmpDirs.add(p)
    p
  }

  def tmpDir(prefix: String): String = tmpPath(prefix).toString
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSpec.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }
  def tmpDir(prefix: String): String = SparkSpec.tmpDir(prefix)
  def tmpPath(prefix: String): Path = SparkSpec.tmpPath(prefix)
}
