package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming CDC upsert — the foreachBatch MERGE loop (what a Delta/
  * Iceberg `MERGE INTO` sink does per micro-batch, distilled to the
  * read-modify-write the pattern actually is): a change stream of
  * key-unique batches (upserts + deletes) applies IN BATCH ORDER
  * against an accumulating keyed table, each application writing a new
  * immutable state version (anti-join the batch's keys out, union the
  * batch's upserts in). The batch twin is q_cdc_apply (one-shot digest
  * diff); this gate witnesses the INCREMENTAL semantics a real pipeline
  * runs: three file-source micro-batches — insert the even keys, then
  * update every key%6==0 (+10.00) while inserting the odd keys, then
  * delete every key%10==0 — where the update batch must land AFTER the
  * insert batch (a reordered application leaves the stale price and
  * breaks the hash), and a collapsed/merged application trips the LOUD
  * per-batch key-uniqueness require (CDC batches are key-unique by
  * construction; duplicates mean the stream lost its batch boundaries).
  *
  * Scale shape: each micro-batch costs one anti-join + union + write
  * over the STATE table — the honest cost of a snapshot-isolated merge
  * without a log-structured table format; state versions are immutable
  * files like [[graft.sources.ShardStoreSink]]'s snapshots. The final
  * witnesses hash-gate against a DuckDB oracle computing the net effect
  * of the three batches from the orders table directly. */
object UpsertStream {

  private def cdcBatches(spark: SparkSession,
      dir: String): Seq[(String, DataFrame)] = {
    val base = graft.Tables(spark, dir, "orders")
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"))
    val f1 = base.filter(col("k") % 2 === 0)
      .select(lit("u").as("op"), col("k"), col("price"))
    val upd = base.filter(col("k") % 6 === 0)
      .select(lit("u").as("op"), col("k"),
        (col("price").cast("decimal(18,2)") + lit(BigDecimal("10.00")))
          .cast("double").as("price"))
    val f2 = upd.unionByName(base.filter(col("k") % 2 === 1)
      .select(lit("u").as("op"), col("k"), col("price")))
    val f3 = base.filter(col("k") % 10 === 0)
      .select(lit("d").as("op"), col("k"), lit(0.0).as("price"))
    Seq(("00-insert-evens.parquet", f1),
      ("01-update-and-odds.parquet", f2),
      ("02-deletes.parquet", f3))
  }

  /** dir -> 3-file staged CDC stream, staged once per JVM; the files'
    * mtimes keep FileStreamSource's initial listing in batch order (the
    * r12 lesson). */
  private[graft] def stagedCdcDir(spark: SparkSession, dir: String): String =
    graft.Tables.staged("cdcstream", dir)(
      EventsStream.writeOrdered(_, cdcBatches(spark, dir)))

  def qStreamCdcApply(spark: SparkSession, dir: String): DataFrame =
    applyCdcStream(spark, stagedCdcDir(spark, dir))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("k")).cast("bigint").as("key_sum"),
        graft.Tables.dsum(col("price")).as("price_sum"))

  /** The foreachBatch merge loop over any staged CDC dir — returns the
    * FINAL state table (k, price). Exposed for UpsertStreamSpec's
    * order-matters and duplicate-key pins. */
  private[streaming] def applyCdcStream(spark: SparkSession,
      srcDir: String): DataFrame = {
    val work = graft.Tables.scratch("cdcapply", srcDir)
    val stateRoot = s"$work/state"; val ck = s"$work/chk"
    val stateRef =
      new java.util.concurrent.atomic.AtomicReference[String](null)
    val ver = new java.util.concurrent.atomic.AtomicInteger(0)
    val src = spark.readStream
      .schema("op STRING, k BIGINT, price DOUBLE")
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
    val q = src.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ck)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sp = batch.sparkSession
        // CDC batches are key-unique by construction; a duplicate means
        // the stream lost its batch boundaries (e.g. files collapsed
        // into one trigger) and last-write-wins would be ambiguous —
        // fail LOUDLY instead of guessing
        val dups = batch.groupBy("k").agg(count(lit(1)).as("n"))
          .filter(col("n") > 1).count()
        require(dups == 0L,
          s"CDC batch $batchId carries $dups duplicate keys")
        val cur = Option(stateRef.get()) match {
          case Some(d) => sp.read.parquet(d)
          case None => sp.range(0)
            .select(col("id").as("k"), lit(0.0).as("price"))
        }
        val next = s"$stateRoot/v${ver.incrementAndGet()}"
        cur.join(batch.select("k"), Seq("k"), "left_anti")
          .unionByName(
            batch.filter(col("op") === "u").select(col("k"), col("price")))
          .write.mode("overwrite").parquet(next)
        stateRef.set(next)
        ()
      }
      .start()
    q.awaitTermination()
    spark.read.parquet(stateRef.get())
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_cdc_apply" -> qStreamCdcApply _)

  /** Net effect of the three CDC batches, from orders directly: every
    * key survives except k%10==0; k%6==0 carries the +10.00 update
    * (exact at DECIMAL(18,2) — the q_cdc_apply precedent). */
  val oracles: Map[String, String] = Map(
    "q_stream_cdc_apply" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_totalprice AS price FROM orders),
        |final AS (
        |  SELECT k, CASE WHEN k % 6 = 0
        |    THEN CAST(CAST(price AS DECIMAL(18,2)) + 10.00 AS DOUBLE)
        |    ELSE price END AS price
        |  FROM base WHERE k % 10 <> 0)
        |SELECT COUNT(*) AS n_rows,
        |  CAST(SUM(k) AS BIGINT) AS key_sum,
        |  CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
        |FROM final""".stripMargin)
}
