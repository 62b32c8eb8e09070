package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The foreachBatch CDC-merge pins the gate can't express directly:
  * batch ORDER decides last-write-wins, deletes retract, and a batch
  * with duplicate keys refuses loudly instead of guessing. */
class UpsertStreamSpec extends SparkSpec {

  private def stage(batches: Seq[Seq[(String, Long, Double)]]): String = {
    import spark.implicits._
    val d = graft.Tables.scratch("cdcspec", java.util.UUID.randomUUID.toString)
    val now = System.currentTimeMillis()
    batches.zipWithIndex.foreach { case (rows, i) =>
      val tmp = s"$d/_tmp_$i"
      rows.toDF("op", "k", "price").repartition(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(d, f"$i%02d-batch.parquet"))
      graft.Tables.deleteDir(tmp)
      Paths.get(d, f"$i%02d-batch.parquet").toFile
        .setLastModified(now - (600 - 30 * i) * 1000L)
      ()
    }
    d
  }

  test("insert -> update -> delete applies in batch order") {
    val d = stage(Seq(
      Seq(("u", 1L, 1.0), ("u", 2L, 5.0)), // insert
      Seq(("u", 1L, 2.0), ("u", 3L, 7.0)), // update k=1, insert k=3
      Seq(("d", 2L, 0.0)))) // delete k=2
    val got = UpsertStream.applyCdcStream(spark, d).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    assert(got.toSeq === Seq((1L, 2.0), (3L, 7.0)),
      "update must override the earlier insert; delete must retract")
  }

  test("a batch with duplicate keys refuses loudly") {
    val d = stage(Seq(Seq(("u", 1L, 1.0), ("u", 1L, 2.0))))
    val e = intercept[Exception] {
      UpsertStream.applyCdcStream(spark, d).collect()
    }
    assert(e.getMessage.contains("duplicate keys") ||
      Option(e.getCause).exists(_.getMessage.contains("duplicate keys")),
      s"wrong failure: $e")
  }

  test("gate witnesses equal the batch recompute") {
    val dir = sf("sf0.001")
    val want = graft.Tables(spark, dir, "orders")
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"))
      .filter(col("k") % 10 =!= 0)
      .select(col("k"), when(col("k") % 6 === 0,
        (col("price").cast("decimal(18,2)") + lit(BigDecimal("10.00")))
          .cast("double")).otherwise(col("price")).as("price"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("k")).cast("bigint").as("key_sum"),
        graft.Tables.dsum(col("price")).as("price_sum"))
      .collect().head
    val got = UpsertStream.qStreamCdcApply(spark, dir).collect().head
    assert(got.toSeq === want.toSeq)
  }
}
