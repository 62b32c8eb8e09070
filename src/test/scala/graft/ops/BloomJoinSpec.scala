package graft.ops

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import graft.SparkSpec

/** q_bloom_join sizes its sketch with the build side's row count; that
  * count goes through the session scalar cache (Tables.cachedCount), so
  * only the first invocation per dir pays the scan. */
class BloomJoinSpec extends SparkSpec {

  /** A private copy of the two tables, so no earlier suite has already
    * cached this dir's count. */
  private def copyTables(): String = {
    val dir = Files.createTempDirectory("bloom-cache")
    for (t <- Seq("orders.parquet", "lineitem.parquet")) {
      val src = Paths.get(sf("sf0.001"), t)
      Files.walk(src).iterator.asScala.foreach { p: Path =>
        Files.copy(p, dir.resolve(t).resolve(src.relativize(p).toString))
      }
    }
    dir.toString
  }

  test("the second qBloomJoin on a dir launches no count job; its rows are unchanged") {
    val dir = copyTables()
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        actions.add(f)
      def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    /** Build the query frame; returns the Dataset actions the build ran. */
    def build(): (org.apache.spark.sql.DataFrame, Seq[String]) = {
      actions.clear()
      spark.listenerManager.register(l)
      try {
        val df = BloomJoin.qBloomJoin(spark, dir)
        org.apache.spark.graftbridge.TestBus.drain(spark.sparkContext)
        (df, actions.asScala.toSeq)
      } finally spark.listenerManager.unregister(l)
    }
    val (first, firstActions) = build()
    assert(firstActions.contains("count"), firstActions)
    val (second, secondActions) = build()
    assert(!secondActions.contains("count"), secondActions)
    // the sketch itself is still built per call
    assert(secondActions.contains("head"), secondActions)
    val rows = first.collect().toSeq
    assert(rows.nonEmpty)
    assert(second.collect().toSeq === rows)
  }
}
