package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM, one session — specs run
  * in the forked test JVM per build.sbt).
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]
  sys.addShutdownHook(tempDirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d)))

  /** A new empty directory under the system temp dir, named `prefix` plus
    * a random suffix; it is deleted with its contents when the test JVM
    * exits. Callers that need a path that does not exist yet use a child
    * of it. */
  def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    tempDirs.add(d)
    d.getPath
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark

  def tempDir(prefix: String): String = SparkSpec.tempDir(prefix)
}
