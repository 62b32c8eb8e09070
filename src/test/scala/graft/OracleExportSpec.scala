package graft

import graft.SparkSpec

/** Pins the OracleExport contract the gate oracles depend on: stable
  * sf-keyed paths, once-per-JVM writes, and the Bench disable switch. */
class OracleExportSpec extends SparkSpec
    with org.scalatest.BeforeAndAfterAll {
  import org.apache.spark.sql.functions._

  // the specs' fixed export paths: cleared before use (a previous run's
  // copy would break the disabled-export check), deleted after the suite
  private val bases = scala.collection.mutable.ArrayBuffer.empty[String]
  private def exportBase(base: String): String = {
    graft.Tables.deleteDir(base); bases += base; base
  }
  override protected def afterAll(): Unit =
    bases.foreach(graft.Tables.deleteDir)

  test("oraclePath is the sf0.01-keyed glob the oracle SQL embeds") {
    assert(OracleExport.oraclePath("x") ==
      "/tmp/graft-oracle-export/x-_root_testdata_sf0.01/*.parquet")
  }

  test("export writes once per (tag, dir), honors the disable conf") {
    import spark.implicits._
    val dir = "/spec/only" // path key, no table reads involved
    val base = exportBase("/tmp/graft-oracle-export/spectag-_spec_only")
    val out = new java.io.File(base)
    // disabled: nothing written
    spark.conf.set("spark.graft.oracleExport", "false")
    OracleExport.export(Seq(1L).toDF("v"), "spectag", dir)
    assert(!out.exists())
    // enabled: written once; a second call with DIFFERENT data must be a
    // no-op (per-JVM once semantics — the content is a pure function of
    // (tag, dir) for real callers, so the first write is authoritative)
    spark.conf.set("spark.graft.oracleExport", "true")
    try {
      OracleExport.export(Seq(1L, 2L).toDF("v"), "spectag", dir)
      assert(out.exists())
      val n1 = spark.read.parquet(base).count()
      assert(n1 == 2)
      OracleExport.export(Seq(1L, 2L, 3L).toDF("v"), "spectag", dir)
      assert(spark.read.parquet(base).count() == 2)
    } finally spark.conf.unset("spark.graft.oracleExport")
  }

  test("a failed export write is retried by the next caller") {
    import spark.implicits._
    val dir = "/spec/retry"
    val base = exportBase("/tmp/graft-oracle-export/retrytag-_spec_retry")
    // first attempt: evaluation throws mid-write → the in-flight mark
    // must be rolled back (mark-before-write used to pin the failure
    // for the whole JVM and the gate then read a missing export)
    val bad = Seq(1L).toDF("v")
      .select(org.apache.spark.sql.functions.expr(
        "cast(raise_error('injected export failure') as bigint)").as("v"))
    intercept[Throwable] { OracleExport.export(bad, "retrytag", dir) }
    // second attempt with good data must actually write
    OracleExport.export(Seq(7L).toDF("v"), "retrytag", dir)
    assert(spark.read.parquet(base).as[Long].collect().toSeq == Seq(7L))
  }

  test("a gated consumer round-trips through its export identically") {
    // the minhash signature export is the widest one (33 columns): the
    // re-read export must equal the shared table it was written from
    val dir = sf("sf0.001")
    val sig = ops.Similarity.minhashSignatures(spark, dir)
    OracleExport.export(sig, "minhsig", dir)
    val back = spark.read.parquet(
      "/tmp/graft-oracle-export/minhsig-_root_testdata_sf0.001")
    assert(back.schema == sig.schema)
    val a = sig.orderBy("doc_id").collect().map(_.toSeq)
    val b = back.orderBy("doc_id").collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }
}
