package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import graft.SparkSpec
import EventsStream.{Event, UserStats}

class EventsStreamSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("watermarked tumbling-window agg matches the batch computation") {
    val out = EventsStream.drain(spark, OutputMode.Update,
        Trigger.ProcessingTime(0)) { s =>
      import s.implicits._
      implicit val ctx = s.sqlContext
      val input = MemoryStream[Event]
      input.addData(
        Event(ts("2024-01-01 00:05:00"), 1, "click", 2.0),
        Event(ts("2024-01-01 00:25:00"), 2, "click", 3.0),
        Event(ts("2024-01-01 00:45:00"), 1, "view", 1.5),
        Event(ts("2024-01-01 01:10:00"), 3, "click", 4.0))
      EventsStream.windowedAgg(input.toDF())
    }.rows
    val got = out.selectExpr("cast(bucket AS STRING) AS bucket",
        "event_type", "n", "total_value")
      .orderBy("bucket", "event_type")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got === Seq(
      ("2024-01-01 00:00:00", "click", 2L, 5.0),
      ("2024-01-01 00:00:00", "view", 1L, 1.5),
      ("2024-01-01 01:00:00", "click", 1L, 4.0)))
  }

  test("sliding-window agg lands every event in exactly two buckets") {
    val out = EventsStream.drain(spark, OutputMode.Update,
        Trigger.ProcessingTime(0)) { s =>
      import s.implicits._
      implicit val ctx = s.sqlContext
      val input = MemoryStream[Event]
      input.addData(
        Event(ts("2024-01-01 00:05:00"), 1, "click", 2.0),
        Event(ts("2024-01-01 00:40:00"), 2, "click", 3.0))
      EventsStream.slidingAgg(input.toDF())
    }.rows
    val got = out.selectExpr("cast(bucket AS STRING) AS bucket",
        "event_type", "n", "total_value")
      .orderBy("bucket", "event_type")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSeq
    // 00:05 -> [23:30, 00:00]-start windows; 00:40 -> [00:00, 00:30]
    assert(got === Seq(
      ("2023-12-31 23:30:00", "click", 1L, 2.0),
      ("2024-01-01 00:00:00", "click", 2L, 5.0),
      ("2024-01-01 00:30:00", "click", 1L, 3.0)))
  }

  test("session windows split on the 30-minute gap") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Event]
    input.addData(
      Event(ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      Event(ts("2024-01-01 10:10:00"), 1, "click", 2.0),  // same session
      Event(ts("2024-01-01 11:30:00"), 1, "click", 4.0),  // gap > 30min: new
      Event(ts("2024-01-01 10:05:00"), 2, "view", 8.0))
    val q = EventsStream.sessionAgg(input.toDF())
      .writeStream.outputMode(OutputMode.Append) // session windows: append-only
      .format("memory").queryName("sess_out").start()
    q.processAllAvailable()
    // append mode emits a session only once the watermark passes its end;
    // push the watermark forward with a later event (whose own session
    // stays open and is NOT expected in the output)
    input.addData(Event(ts("2024-01-02 00:00:00"), 99, "click", 0.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.sql(
      "SELECT user_id, cast(session_start AS STRING), n, total_value " +
        "FROM sess_out ORDER BY user_id, 2")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got === Seq(
      (1L, "2024-01-01 10:00:00", 2L, 3.0),
      (1L, "2024-01-01 11:30:00", 1L, 4.0),
      (2L, "2024-01-01 10:05:00", 1L, 8.0)))
  }

  test("streaming dedup drops in-watermark duplicates, evicts state past it") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventsStream.dedupStream(input.toDF())
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("dedup_out").start()
    // batch 1: a duplicate key inside the watermark window → dropped
    input.addData(
      Event(ts("2024-01-01 00:00:00"), 1, "click", 2.0),
      Event(ts("2024-01-01 00:01:00"), 1, "click", 2.0), // dup, dropped
      Event(ts("2024-01-01 00:02:00"), 2, "view", 1.0))
    q.processAllAvailable()
    // batch 2: advance event time far past the 10-min watermark so the
    // keys' dedup state is evicted...
    input.addData(Event(ts("2024-01-01 01:00:00"), 3, "click", 9.0))
    q.processAllAvailable()
    // batch 3: ...then the SAME key reappears and is emitted again —
    // state is bounded by the watermark horizon, not stream history
    input.addData(Event(ts("2024-01-01 01:01:00"), 1, "click", 2.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.sql(
      "SELECT cast(ts AS STRING), user_id, event_type, value " +
        "FROM dedup_out ORDER BY 1, 2")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getDouble(3))).toSeq
    assert(got === Seq(
      ("2024-01-01 00:00:00", 1L, "click", 2.0),
      ("2024-01-01 00:02:00", 2L, "view", 1.0),
      ("2024-01-01 01:00:00", 3L, "click", 9.0),
      ("2024-01-01 01:01:00", 1L, "click", 2.0)))
  }

  test("flatMapGroupsWithState sessions close via in-batch gaps AND event-time timeouts") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventsStream.sessionizeWithState(input.toDS())
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("fmgs_out").start()
    // batch 1: user 1 has an in-batch 80-min gap (first session closes
    // inside the batch); user 1's second and user 2's only session stay
    // open in state
    input.addData(
      Event(ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      Event(ts("2024-01-01 10:10:00"), 1, "click", 2.0),
      Event(ts("2024-01-01 11:30:00"), 1, "click", 4.0),
      Event(ts("2024-01-01 10:05:00"), 2, "view", 8.0))
    q.processAllAvailable()
    // batches 2+3: push the watermark past every open session's 30-min
    // horizon (timeouts are evaluated at the START of the batch AFTER the
    // watermark advances, hence two triggers); user 99's own session
    // stays open and must NOT be emitted
    input.addData(Event(ts("2024-01-02 00:00:00"), 99, "click", 0.0))
    q.processAllAvailable()
    input.addData(Event(ts("2024-01-02 00:01:00"), 99, "click", 0.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.sql(
      "SELECT user_id, cast(session_start AS STRING), n, total_value " +
        "FROM fmgs_out ORDER BY user_id, 2")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got === Seq(
      (1L, "2024-01-01 10:00:00", 2L, 3.0),
      (1L, "2024-01-01 11:30:00", 1L, 4.0),
      (2L, "2024-01-01 10:05:00", 1L, 8.0)))
  }

  final case class IdEvent(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

  test("stream-stream purchase-error join pairs within the 30-minute band") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[IdEvent]
    val q = EventsStream.purchaseErrorJoin(input.toDF())
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("join_out").start()
    input.addData(
      IdEvent(10, ts("2024-01-01 10:00:00"), 1, "purchase", 50.0),
      IdEvent(11, ts("2024-01-01 10:10:00"), 1, "error", 0.0), // in band
      IdEvent(12, ts("2024-01-01 10:29:00"), 1, "error", 0.0), // in band
      IdEvent(13, ts("2024-01-01 10:45:00"), 1, "error", 0.0), // > 30min: out
      IdEvent(14, ts("2024-01-01 10:05:00"), 2, "error", 0.0), // other user
      IdEvent(15, ts("2024-01-01 09:59:00"), 1, "error", 0.0)) // before: out
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("SELECT p_id, e_id, user_id, value FROM join_out " +
        "ORDER BY p_id, e_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got === Seq((10L, 11L, 1L, 50.0), (10L, 12L, 1L, 50.0)))
  }

  test("stream-stream join drops matches arriving past the watermark horizon") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[IdEvent]
    val q = EventsStream.purchaseErrorJoin(input.toDF())
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("join_wm_out").start()
    input.addData(IdEvent(20, ts("2024-01-01 10:00:00"), 5, "purchase", 9.0))
    q.processAllAvailable()
    // advance both watermarks far past p_ts + 30min + 10min delay: the
    // buffered purchase's state is evicted
    input.addData(IdEvent(21, ts("2024-01-01 12:00:00"), 6, "purchase", 1.0),
      IdEvent(22, ts("2024-01-01 12:00:00"), 6, "error", 0.0))
    q.processAllAvailable()
    // a LATE in-band error (event time 10:10, arriving after the watermark
    // passed it) finds no buffered purchase — bounded state means late
    // matches are dropped, the documented streaming/batch divergence
    input.addData(IdEvent(23, ts("2024-01-01 10:10:00"), 5, "error", 0.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("SELECT p_id, e_id FROM join_wm_out ORDER BY p_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === Seq((21L, 22L)))
  }

  test("mapGroupsWithState accumulates per-user state across micro-batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventsStream.runningUserStats(input.toDS()).toDF("user_id", "stats")
      .writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("state_out").start()

    input.addData(
      Event(ts("2024-01-01 00:00:00"), 1, "click", 2.0),
      Event(ts("2024-01-01 00:01:00"), 1, "view", 3.0),
      Event(ts("2024-01-01 00:02:00"), 2, "click", 1.0))
    q.processAllAvailable()
    input.addData(Event(ts("2024-01-01 00:10:00"), 1, "click", 5.0))
    q.processAllAvailable()
    q.stop()

    // latest state per user = the one with the highest event count
    // (monotone; memory-sink row order across batches isn't guaranteed)
    val last = spark.sql("SELECT user_id, stats.* FROM state_out")
      .collect().map(r => r.getLong(0) -> UserStats(r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).maxBy(_.n_events) }
    assert(last(1L) === UserStats(3L, 10.0))
    assert(last(2L) === UserStats(1L, 1.0))
  }

  test("cross-batch late event min-extends the session start and keeps the timeout horizon") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventsStream.sessionizeWithState(input.toDS())
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("late_out").start()
    // batch 1: user 1 session (10:30); watermark -> 10:20
    input.addData(Event(ts("2024-01-01 10:30:00"), 1, "click", 1.0))
    q.processAllAvailable()
    // batch 2: LATE event 10:21 — older than the stored lastTs but inside
    // the watermark. The fix (r6) keeps lastTs = 10:30 (horizon 11:00) and
    // min-extends start to 10:21; the pre-fix machine overwrote lastTs
    // with the late ts, rewinding the horizon to 10:51
    input.addData(Event(ts("2024-01-01 10:21:00"), 1, "click", 2.0))
    q.processAllAvailable()
    // batch 3: 10:55 is 25 min after the TRUE lastTs (same session) but
    // 34 min after the rewound one — under the old bug this event split
    // the session in two
    input.addData(Event(ts("2024-01-01 10:55:00"), 1, "click", 4.0))
    q.processAllAvailable()
    // close everything: watermark past 10:55 + 30 min
    input.addData(Event(ts("2024-01-01 12:00:00"), 99, "click", 0.0))
    q.processAllAvailable()
    input.addData(Event(ts("2024-01-01 12:01:00"), 99, "click", 0.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.sql(
      "SELECT user_id, cast(session_start AS STRING), n, total_value " +
        "FROM late_out WHERE user_id = 1 ORDER BY 2")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got === Seq((1L, "2024-01-01 10:21:00", 3L, 7.0)))
  }

  test("streaming heavy hitters merge sketch state across micro-batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Event]
    // batch 1: 3 clicks, 1 view in hour 0
    input.addData(
      Event(ts("2024-01-01 00:05:00"), 1, "click", 1.0),
      Event(ts("2024-01-01 00:10:00"), 2, "click", 1.0),
      Event(ts("2024-01-01 00:15:00"), 3, "click", 1.0),
      Event(ts("2024-01-01 00:20:00"), 4, "view", 1.0))
    val q = EventsStream.heavyHittersStream(input.toDF())
      .writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("hh_out").start()
    try {
      q.processAllAvailable()
      // batch 2 must MERGE into the same window's sketch: 2 more views
      // and a purchase flip the order below click
      input.addData(
        Event(ts("2024-01-01 00:25:00"), 5, "view", 1.0),
        Event(ts("2024-01-01 00:30:00"), 6, "view", 1.0),
        Event(ts("2024-01-01 00:35:00"), 7, "purchase", 1.0))
      q.processAllAvailable()
    } finally q.stop()
    // update mode: take the latest emission per (bucket, type)
    val got = spark.sql(
      """SELECT event_type, MAX(n) FROM hh_out
        |WHERE CAST(bucket AS STRING) = '2024-01-01 00:00:00'
        |GROUP BY event_type ORDER BY 2 DESC, 1""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // capacity 64 >> 3 keys: sketch is exact here
    assert(got === Seq(("click", 3L), ("view", 3L), ("purchase", 1L)))
  }

  test("idempotent file sink: a replayed micro-batch does not duplicate rows") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val outDir = tmpDir("graft-sink-test")
    val input = MemoryStream[Event]
    input.addData(
      Event(ts("2024-01-01 00:05:00"), 1, "click", 2.0),
      Event(ts("2024-01-01 00:06:00"), 2, "view", 1.0))
    val q = EventsStream.idempotentParquetSink(input.toDF(), outDir)
    try {
      q.processAllAvailable()
      input.addData(Event(ts("2024-01-01 00:07:00"), 3, "purchase", 5.0))
      q.processAllAvailable()
    } finally q.stop()
    val once = spark.read.parquet(s"$outDir/batch=*").count()
    assert(once === 3L)
    // simulate the crash-replay: the sink re-delivers batch 1's data
    // under the same batch id — deterministic placement + overwrite
    // must leave the total unchanged
    EventsStream.writeBatch(
      Seq(Event(ts("2024-01-01 00:07:00"), 3, "purchase", 5.0)).toDF(),
      1L, outDir)
    assert(spark.read.parquet(s"$outDir/batch=*").count() === once)
  }

  test("streaming funnel matches the batch funnel across micro-batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventsStream.funnelWithState(input.toDS())
      .writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("funnel_out").start()
    // batch 1: user 1 views; user 2 clicks first (click before any view
    // must NOT advance)
    input.addData(
      Event(ts("2024-01-01 10:00:00"), 1, "view", 0.0),
      Event(ts("2024-01-01 10:00:00"), 2, "click", 0.0))
    q.processAllAvailable()
    // batch 2: user 1 clicks inside the 24h window, user 2 views
    input.addData(
      Event(ts("2024-01-01 11:00:00"), 1, "click", 0.0),
      Event(ts("2024-01-01 11:00:00"), 2, "view", 0.0))
    q.processAllAvailable()
    // batch 3: user 1 purchases inside the window -> 3; user 2's click
    // arrives 25h after their view anchor -> stays 1
    input.addData(
      Event(ts("2024-01-01 12:00:00"), 1, "purchase", 0.0),
      Event(ts("2024-01-02 12:30:00"), 2, "click", 0.0))
    q.processAllAvailable()
    q.stop()
    // Update mode: take each user's LAST emitted row
    val got = spark.sql(
      "SELECT user_id, funnel_stage FROM funnel_out")
      .collect().map(r => (r.getLong(0), r.getInt(1)))
      .zipWithIndex.groupBy(_._1._1).map { case (u, xs) =>
        u -> xs.maxBy(_._2)._1._2 }
    assert(got === Map(1L -> 3, 2L -> 1))
  }

  test("q_stream_sink: stream+forced-replay output equals the batch aggregation") {
    val dir = "/root/testdata/sf0.001"
    val got = EventsStream.qStreamSink(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val want = graft.Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.count_distinct(
          org.apache.spark.sql.functions.col("event_id")).as("n_ids"),
        graft.Tables.dsum(org.apache.spark.sql.functions.col("value"))
          .as("total_value"))
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    assert(got === want) // a duplicated replayed batch would inflate counts
  }

  test("maxFilesPerTrigger=1 really yields one micro-batch per staged file") {
    // the q_stream_incremental gate row proves the MERGED result; this
    // pins that the merge actually spans multiple batches — if Spark ever
    // ignored the option and ran one batch, the gate would pass vacuously
    import org.apache.spark.sql.functions._
    val dir = graft.Tables.scratch("incspec", "maxFilesPerTrigger")
    graft.Tables.events(spark, "/root/testdata/sf0.001")
      .repartition(3).write.mode("overwrite").parquet(dir)
    val nFiles = new java.io.File(dir).listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(nFiles === 3)
    val src = spark.readStream
      .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
        "event_type STRING, value DOUBLE, props STRING")
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = src.groupBy("event_type").agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("inc_spec_out").start()
    q.processAllAvailable()
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    assert(dataBatches === 3,
      s"expected 3 data micro-batches, saw $dataBatches")
    val got = spark.table("inc_spec_out")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val want = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .groupBy("event_type").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got === want)
  }

  test("checkpoint restart: run 2 reads ONLY the new files and restores state") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.functions._
    val dir = sf("sf0.001")
    val work = graft.Tables.scratch("restartspec", "restart")
    val srcDir = s"$work/src"; Files.createDirectories(Paths.get(srcDir))
    val ev = graft.Tables.events(spark, dir)
    ev.filter(col("event_id") % 2 === 0).repartition(1)
      .write.parquet(s"$work/half1")
    ev.filter(col("event_id") % 2 === 1).repartition(1)
      .write.parquet(s"$work/half2")
    def linkIn(half: String): Unit =
      new java.io.File(s"$work/$half").listFiles()
        .filter(_.getName.endsWith(".parquet")).foreach { f =>
          Files.createSymbolicLink(Paths.get(srcDir, s"$half-${f.getName}"),
            f.toPath)
        }
    def drain(): Long = {
      val src = spark.readStream
        .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
          "event_type STRING, value DOUBLE, props STRING")
        .parquet(srcDir)
      val q = src.groupBy("event_type").agg(count(lit(1)).as("n"))
        .writeStream.outputMode(OutputMode.Complete)
        .option("checkpointLocation", s"$work/chk")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .format("memory").queryName("restart_spec_out").start()
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }
    linkIn("half1")
    val read1 = drain()
    linkIn("half2")
    val read2 = drain()
    val h1 = ev.filter(col("event_id") % 2 === 0).count()
    val h2 = ev.filter(col("event_id") % 2 === 1).count()
    assert(read1 === h1, s"run 1 read $read1, expected $h1")
    assert(read2 === h2, s"run 2 re-read old files: $read2 vs $h2 new rows")
    val got = spark.table("restart_spec_out").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val want = ev.groupBy("event_type").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got === want, "restored state + new rows != full aggregation")
  }

  test("late-file rows are watermark-dropped and counted in progress") {
    import org.apache.spark.sql.functions._
    val dir = sf("sf0.001")
    val staged = EventsStream.lateEventsDir(spark, dir)
    val src = spark.readStream
      .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
        "event_type STRING, value DOUBLE, props STRING")
      .option("maxFilesPerTrigger", "1").parquet(staged)
    val q = src.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("win"))
      .agg(count(lit(1)).as("n"))
      .writeStream.outputMode(OutputMode.Append)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("memory").queryName("late_spec_out").start()
    q.awaitTermination()
    // the drop metric counts the STATEFUL OPERATOR's input rows, which
    // are per-task PARTIAL aggregates (window, partition), not raw
    // events — bound it between the late file's distinct-window count
    // and its raw row count
    val dropped = q.recentProgress
      .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    val ev = graft.Tables.events(spark, dir)
    val cutoff = ev.agg(date_trunc("hour",
        max(col("ts")) - expr("INTERVAL 24 HOURS")).as("c"))
      .head().getAs[java.sql.Timestamp](0)
    val lateEv = ev.filter(col("ts") < lit(cutoff))
    val lateRows = lateEv.count()
    val lateWindows = lateEv
      .select(date_trunc("hour", col("ts"))).distinct().count()
    assert(lateRows > 0, "staging produced no late rows")
    assert(dropped >= lateWindows && dropped <= lateRows,
      s"dropped $dropped outside [$lateWindows, $lateRows]")
    // the semantic proof: the sink holds ONLY the recent file's
    // finalized windows — no late window leaked into state
    val sinkMin = spark.table("late_spec_out")
      .agg(min(col("win.start"))).head().getTimestamp(0)
    assert(!sinkMin.before(cutoff),
      s"late window $sinkMin leaked into the sink (cutoff $cutoff)")
  }
}
