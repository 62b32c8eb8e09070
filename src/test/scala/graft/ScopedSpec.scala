package graft

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.graftbridge.TestBus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener,
  Trigger}

import graft.streaming.EventsStream

/** Scoped confs: stream gates and AutoSalt run in a cached child session
  * and never write the caller's conf; the caller's stream listeners still
  * see the gates' events. */
class ScopedSpec extends SparkSpec {

  private val dir = sf("sf0.001")
  private val providerKey = "spark.sql.streaming.stateStore.providerClass"
  private val saltKey = "spark.graft.autosalt.enabled"

  /** Shuffle partition counts the planner chose for `df` (pre-AQE). */
  private def shuffleParts(df: DataFrame): Seq[Int] = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    plan.collect { case e: ShuffleExchangeExec =>
      e.outputPartitioning.numPartitions }
  }

  private def inThread(body: => Unit): (Thread, AtomicReference[Throwable]) = {
    val err = new AtomicReference[Throwable](null)
    val t = new Thread(() => try body catch { case e: Throwable => err.set(e) })
    t.start()
    (t, err)
  }

  test("gates and AutoSalt running concurrently never change the caller's planning conf") {
    plans.AutoSalt.ensureRegistered(spark) // inert on the caller: conf unset
    val before = spark.conf.getAll
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val provider = spark.conf.getOption(providerKey)
    assert(!spark.conf.getOption(saltKey).contains("true"))
    val (tws, twsErr) = inThread(EventsStream.qStreamTws(spark, dir).collect())
    val (salt, saltErr) = inThread(ops.Skew.qAutoSaltAgg(spark, dir).collect())
    var probes = 0
    while (tws.isAlive || salt.isAlive) {
      val q = spark.range(2000).groupBy((col("id") % 7).as("k"))
        .agg(count(lit(1)).as("n"), sum(col("id")).as("s"))
      assert(spark.conf.get("spark.sql.shuffle.partitions").toInt === parts)
      assert(spark.conf.getOption(providerKey) === provider)
      assert(spark.conf.getOption(saltKey).isEmpty)
      assert(shuffleParts(q) === Seq(parts))
      assert(!q.queryExecution.optimizedPlan.toString
        .contains(plans.AutoSalt.SaltCol))
      assert(q.collect().length === 7)
      probes += 1
    }
    tws.join(); salt.join()
    Seq(twsErr, saltErr).foreach(e => Option(e.get).foreach(throw _))
    assert(probes > 0)
    assert(spark.conf.getAll === before)
  }

  test("AutoSalt keeps a caller's own spark.graft.autosalt.enabled") {
    spark.conf.set(saltKey, "true")
    try {
      assert(ops.Skew.qAutoSaltAvg(spark, dir).count() > 0)
      assert(spark.conf.get(saltKey) === "true")
    } finally spark.conf.unset(saltKey)
  }

  test("caller listeners see gate progress and executions; child sessions stay bounded") {
    val progress = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.stateOperators.nonEmpty) { progress.incrementAndGet(); () }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    val childExecs = new java.util.concurrent.atomic.AtomicInteger()
    val execs = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        if (qe.sparkSession ne spark) { childExecs.incrementAndGet(); () }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.streams.addListener(listener)
    spark.listenerManager.register(execs)
    try {
      assert(EventsStream.qStreamDedup(spark, dir).count() > 0)
      org.apache.spark.sql.graftbridge.ColumnBridge
        .drainListeners(spark.sparkContext)
      assert(progress.get() > 0, "no QueryProgressEvent reached the caller")
      assert(childExecs.get() > 0, "no child execution reached the caller")
    } finally {
      spark.streams.removeListener(listener)
      spark.listenerManager.unregister(execs)
    }
    // Spark itself adds one bus per stream run (a caller-session run
    // does too), so the gate calls must add exactly what the same stream
    // run directly on the caller adds: a child per call would add more
    def growth(run: => Unit): Int = {
      val before = TestBus.streamBuses(spark.sparkContext)
      for (_ <- 1 to 5) run
      TestBus.streamBuses(spark.sparkContext) - before
    }
    val src = java.nio.file.Paths.get(tmpDir("scopedspec-src"))
    java.nio.file.Files.createSymbolicLink(src.resolve("events.parquet"),
      java.nio.file.Paths.get(dir, "events.parquet").toAbsolutePath)
    val direct = growth {
      val q = EventsStream.dedupStream(Tables.eventsStream(spark, src.toString)
          .select(col("ts"), col("user_id"), col("event_type"), col("value")))
        .select("user_id", "event_type", "value")
        .writeStream.outputMode(OutputMode.Append).format("memory")
        .queryName("scopedspec_direct").start()
      try q.processAllAvailable() finally q.stop()
      spark.catalog.dropTempView("scopedspec_direct"); ()
    }
    val gated = growth(assert(EventsStream.qStreamDedup(spark, dir).count() > 0))
    assert(gated === direct, s"5 gate calls added $gated buses, 5 direct runs $direct")
    val child = Scoped.session(spark, Map("spark.sql.shuffle.partitions" ->
      EventsStream.StatePartitions.toString))
    assert(!child.catalog.listTables().collect()
      .exists(_.name.startsWith("drain_")), "a drain left its sink view")
  }

  test("drain rows outlive the sink view and planning uses the state partitions") {
    val d = EventsStream.drain(spark, OutputMode.Complete,
        Trigger.ProcessingTime(0)) { s =>
      import s.implicits._
      implicit val ctx = s.sqlContext
      val in = MemoryStream[(Long, Long)]
      in.addData((1L, 10L), (2L, 20L), (1L, 30L))
      in.toDF().toDF("k", "v").groupBy("k").agg(sum("v").as("s"))
    }
    assert(d.rows.sparkSession eq spark)
    assert(d.rows.orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq === Seq((1L, 40L), (2L, 20L)))
    assert(d.progress.flatMap(_.stateOperators).map(_.numShufflePartitions)
      .distinct === Seq(EventsStream.StatePartitions.toLong))
  }

  test("the child is a clone: caller confs, functions and rules reach it, including changes between calls") {
    val key = "spark.graft.scopedspec.probe"
    def seen(): String = {
      val got = new AtomicReference[String]()
      EventsStream.drain(spark, OutputMode.Append,
          Trigger.ProcessingTime(0)) { s =>
        got.set(s.conf.get(key, "<unset>"))
        assert(s.catalog.functionExists("scopedspec_udf"))
        assert(s.experimental.extraOptimizations.contains(plans.AutoSalt))
        implicit val ctx = s.sqlContext
        import s.implicits._
        MemoryStream[Long].toDF()
      }
      got.get
    }
    plans.AutoSalt.ensureRegistered(spark)
    spark.udf.register("scopedspec_udf", (x: Long) => x + 1)
    try {
      spark.conf.set(key, "a")
      assert(seen() === "a")
      spark.conf.set(key, "b")
      assert(seen() === "b")
    } finally {
      spark.conf.unset(key)
      spark.sql("DROP TEMPORARY FUNCTION IF EXISTS scopedspec_udf")
      ()
    }
  }
}
