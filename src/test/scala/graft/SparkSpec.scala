package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session via
  * getOrCreate; suites must not stop() it). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(name: String) = s"/root/testdata/$name"

  private val tmpDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** A fresh dir under `java.io.tmpdir`, deleted after the suite. */
  protected def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    tmpDirs.add(d)
    d
  }

  /** A classpath resource copied into a [[tmpDir]] and made executable:
    * the MapReduce entry points run executables directly (shebang
    * honored), like the reference workers. */
  protected def stageExecutable(resource: String): String = {
    val src = java.nio.file.Paths.get(getClass.getResource(resource).toURI)
    val dst = java.nio.file.Paths.get(tmpDir("graft-exec"),
      src.getFileName.toString)
    java.nio.file.Files.copy(src, dst)
    assert(dst.toFile.setExecutable(true))
    dst.toString
  }

  override protected def afterAll(): Unit =
    try tmpDirs.forEach(d => Tables.deleteDir(d)) finally super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession = {
    // "local[8, 2]": 8 threads, maxFailures=2 — plain local[8] fails the
    // job on the FIRST task failure, which would make task-retry
    // fault tolerance (FaultToleranceSpec) unwitnessable. One retry also
    // matches a real cluster's posture more closely; tests that assert
    // on thrown queries still throw (the retry re-fails instantly).
    val s = SparkSession.builder().master("local[8, 2]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
