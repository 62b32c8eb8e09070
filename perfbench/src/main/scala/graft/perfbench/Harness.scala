package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicReference

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark harness: drives one workload through the program's public
  * entry points inside one JVM and writes what it measured as JSON.
  *
  *   Harness --workload W --data DIR --work DIR --out FILE
  *           --warm W --passes K --trace 0|1 --cpus N
  *
  * Phases: session start, workload set-up (table footers, prewarm chains),
  * W warm-up passes, then the timed region: K whole passes over the
  * workload's ops, one op at a time from this thread (a closed loop with
  * one client). A fixed pass count, rather than a deadline, keeps every
  * run at the same points of the JIT warm-up curve, which keeps falling
  * through the region. With `--trace 1` each untraced pass of the
  * region is followed by a traced one (listeners attached, spans
  * recorded); the difference between the two kinds is the tracing
  * overhead. Output checks are made by the caller, outside the region. */
object Harness {

  /** Writes the result file and the manager's job messages. */
  val json = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class OpResult(name: String, kind: String, start: Double,
      wallS: Double, cpuS: Double, error: Option[String])

  /** What an op body sees: whether to write its output for the check, and
    * how to open a child span (a no-op when untraced). */
  final class OpCtx(sc: SparkContext, val check: Boolean,
      tracer: Option[Tracer], val spanId: Long) {
    def span[T](name: String, layer: String)(body: => T): T = tracer match {
      case None => body
      case Some(t) =>
        val id = t.nextId()
        sc.setLocalProperty(Props.Span, id.toString)
        try t.span(name, layer, spanId, id)(body)
        finally sc.setLocalProperty(Props.Span, spanId.toString)
    }
    /** A fresh span id, so that jobs can be parented to a span recorded
      * after they ran; the op's own id when untraced. */
    def nextId(): Long = tracer.map(_.nextId()).getOrElse(spanId)
    def record(name: String, layer: String, start: Double, end: Double,
        id: Long = nextId()): Unit =
      tracer.foreach(_.add(Span(id, spanId, name, layer, start, end)))
  }

  final case class Op(name: String, kind: String, body: OpCtx => Unit)

  trait Workload {
    def ops: Seq[Op]
    /** Set-up phases run once before warm-up: name -> seconds. */
    def setup(): Seq[(String, Double)]
    /** Facts the caller needs to check outputs. */
    def describe(): Map[String, Any]
    def close(): Unit = ()
  }

  private def secondsOf[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def timeS(body: => Unit): Double = secondsOf(body)._2

  private def message(e: Throwable): String =
    (Option(e.getMessage).getOrElse(e.toString).linesIterator.toSeq
      .headOption.getOrElse(e.toString)).take(300)

  /** One pass: every op once, in order. */
  private def runPass(sc: SparkContext, ops: Seq[Op], check: Boolean,
      tracer: Option[Tracer]): Seq[OpResult] = {
    val passId = tracer.map(_.nextId()).getOrElse(0L)
    val passStart = Clock.nowMs()
    val out = ops.map { op =>
      val id = tracer.map(_.nextId()).getOrElse(0L)
      sc.setJobGroup(s"op-$id", op.name)
      sc.setLocalProperty(Props.Op, op.name)
      sc.setLocalProperty(Props.Span, id.toString)
      val (t0, c0) = (Clock.nowMs(), processCpuS())
      val err =
        try { op.body(new OpCtx(sc, check, tracer, id)); None }
        catch { case NonFatal(e) => Some(message(e)) }
      val (t1, c1) = (Clock.nowMs(), processCpuS())
      tracer.foreach(_.add(Span(id, passId, op.name, "op", t0, t1)))
      OpResult(op.name, op.kind, t0, (t1 - t0) / 1e3, c1 - c0, err)
    }
    sc.clearJobGroup()
    tracer.foreach(_.add(Span(passId, 0L, "pass", "pass", passStart, Clock.nowMs())))
    out
  }


  private def passWall(p: Seq[OpResult]): Double = p.map(_.wallS).sum

  private def opsJson(p: Seq[OpResult]): Seq[Map[String, Any]] = p.map(r =>
    Map("name" -> r.name, "kind" -> r.kind, "start_ms" -> r.start,
      "wall_s" -> r.wallS, "cpu_s" -> r.cpuS, "error" -> r.error))

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toDouble / 1024

  /** Heap still reachable after a full collection: what the program keeps
    * (caches, broadcast and shared tables) once the work is done. */
  private def liveHeapMb(): Double = {
    System.gc()
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** CPU time of the whole JVM: scheduler, executor, JIT and GC threads. */
  private def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  private def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val data = a("data")
    val work = a("work")
    val warmPasses = a("warm").toInt
    val passes = a("passes").toInt
    val trace = a("trace") == "1"
    val cpus = a("cpus").toInt
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val (spark, sessionS) = secondsOf(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // the oracle export path is fixed outside the work dir; the check
      // step writes the one export its oracles read itself
      .config("spark.graft.oracleExport", "false")
      .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext

    val wl: Workload = workload match {
      case "mr_wordcount" => new MrWorkload(spark, data, work, cpus)
      case "sql_short" => new QueryWorkload(spark, data, s"$work/check")
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val ops = wl.ops
    try {
      val phases = wl.setup()
      // warm-up: the first pass writes the outputs the caller checks, then
      // plain passes up to `warm`. Pass time keeps falling for 10 or more
      // passes (JIT), more than a run can spend, so every run stops at the
      // same point of that curve instead of waiting for it to level off.
      val warm = mutable.ArrayBuffer(runPass(sc, ops, check = true, None))
      while (warm.size < warmPasses)
        warm += runPass(sc, ops, check = false, None)
      val setupEnd = System.currentTimeMillis()

      // The timed region. Traced, it alternates an untraced pass with a
      // traced one, so that their difference, the tracing overhead, is not
      // confounded by the warm-up that continues through the region.
      val tracer = new Tracer
      val exec = new ExecListener
      val cat = new CatalystListener
      val stream = new StreamListener
      val codegen = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
      val compiles = org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME
      val deltas = mutable.Map[String, Double]().withDefaultValue(0.0)
      def tracedPass(): Seq[OpResult] = {
        val (c0, ns0, gc0) = (compiles.getCount, codegen.compileTime, gcSeconds())
        sc.addSparkListener(exec)
        spark.listenerManager.register(cat)
        spark.streams.addListener(stream)
        val p = runPass(sc, ops, check = false, Some(tracer))
        org.apache.spark.perfbench.Bus.drain(sc)
        sc.removeSparkListener(exec)
        spark.listenerManager.unregister(cat)
        spark.streams.removeListener(stream)
        deltas("codegen.compiles") += compiles.getCount - c0
        deltas("codegen.compile_s") += (codegen.compileTime - ns0) / 1e9
        deltas("jvm.gc_s") += gcSeconds() - gc0
        p
      }
      val pairs = (1 to passes).map { _ =>
        val u = runPass(sc, ops, check = false, None)
        (u, if (trace) tracedPass() else Nil)
      }
      val untraced = pairs.map(_._1)
      val liveHeap = liveHeapMb()

      val traced: Map[String, Any] =
        if (!trace) Map()
        else {
          val counters = exec.c.toMap ++ cat.c.toMap ++ stream.c.toMap ++
            deltas.toMap + ("streaming.state_rows" -> stream.finalStateRows)
          Map(
            "passes" -> pairs.map(p => opsJson(p._2)),
            "counters" -> counters,
            "stream_batch_ms" -> stream.batchMs.toSeq,
            "stream_first_batch_s" -> stream.firstBatchS.toSeq,
            "spans" -> tracer.spans.asScala.toSeq.map(s => Map(
              "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
              "layer" -> s.layer, "start" -> s.start, "end" -> s.end)),
            "jobs" -> exec.jobs.values.toSeq.map(j => Map(
              "id" -> j.id, "op" -> j.op, "parent" -> j.parent,
              "start" -> j.start, "end" -> j.end, "schema" -> j.schema,
              "stages" -> j.stageIds)),
            "stages" -> exec.stages.values.toSeq.map(s => Map(
              "id" -> s.id, "job" -> s.job.id, "name" -> s.name,
              "start" -> s.start, "end" -> s.end, "tasks" -> s.tasks,
              "write_records" -> s.writeRecords, "write_bytes" -> s.writeBytes,
              "spill_bytes" -> s.spillBytes,
              "read_records" -> s.readRecords.toSeq)))
        }

      val result = Map(
        "workload" -> workload,
        "cpus" -> cpus,
        "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "spark_version" -> spark.version,
        "setup" -> Map(
          "jvm_start_ms" -> jvmStart,
          "end_ms" -> setupEnd,
          "session_s" -> sessionS,
          "phases" -> phases.toMap,
          "warmup_pass_s" -> warm.map(passWall).toSeq),
        "check_pass" -> opsJson(warm.head),
        "untraced" -> Map("passes" -> untraced.map(opsJson)),
        "traced" -> traced,
        "workload_facts" -> wl.describe(),
        "peak_rss_mb" -> peakRssMb(),
        "live_heap_mb" -> liveHeap)
      json.writeValue(new File(a("out")), result)
    } finally {
      wl.close()
      spark.stop()
    }
  }
}

/** Queries from `SparkEntry.queries`: each op calls the builder
  * `fn(spark, dir)` and then runs one action, a noop sink when timed and a
  * parquet write (the output the caller checks) on the check pass.
  *
  * The queries are every 10th name, in sorted order, of `ops.Tpch` ++
  * `ops.Relational`, and one stream gate. A pass over the whole registries
  * takes tens of seconds even at a small scale factor (each query pays
  * fixed planning and scheduling costs), more than one run can spend. The
  * stream gate runs a watermarked, stateful micro-batch stream inside its
  * builder call, over the source dirs the `streamstage` chain stages in
  * set-up. */
final class QueryWorkload(spark: SparkSession, data: String, checkDir: String)
    extends Harness.Workload {
  import Harness._

  private val fns = graft.SparkEntry.queries
  private val names =
    (graft.ops.Tpch.queries ++ graft.ops.Relational.queries).keys.toSeq.sorted
      .grouped(10).map(_.head).toSeq :+ "q_stream_dedup"
  private val chains = Seq("streamstage")

  def ops: Seq[Op] = names.map(n => Op(n, "query", ctx => {
    val df: DataFrame = ctx.span("build", "ops.build")(fns(n)(spark, data))
    ctx.span("action", "ops.action") {
      if (ctx.check) df.coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$n")
      else df.write.format("noop").mode("overwrite").save()
    }
  }))

  def setup(): Seq[(String, Double)] = {
    val tables = graft.Tables.names.filter(t => new File(s"$data/$t.parquet").exists)
    val footer = "tables.footer_warm_s" -> Harness.timeS(
      tables.foreach(t => spark.read.parquet(s"$data/$t.parquet").schema))
    val all = graft.SparkEntry.prewarmChains(spark, data).toMap
    footer +: chains.map(c => s"tables.prewarm.${c}_s" -> Harness.timeS(all(c)()))
  }

  /** Oracle SQL per query, plus the derived tables some oracles read from
    * the fixed oracle-export path, written here for the check step. */
  def describe(): Map[String, Any] = {
    val oracles = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    val exports = Map("partsupp" -> (() => graft.ops.Tpch.partsupp(spark, data)))
      .collect { case (tag, df) if oracles.values.exists(
          _.contains(graft.OracleExport.oraclePath(tag))) =>
        val dir = s"$checkDir/_export/$tag"
        df().write.mode("overwrite").parquet(dir)
        graft.OracleExport.oraclePath(tag) -> s"$dir/*.parquet"
      }
    Map("check_dir" -> checkDir, "oracles" -> oracles, "exports" -> exports)
  }
}

/** The paper's MapReduce dataflow: word count over two inputs of equal
  * size (a few large files, many small ones), run natively with
  * `WordCount.job(...).run` and as the executable-compat job submitted as
  * `new_manager_job` JSON over TCP to an in-process `ManagerServer`, whose
  * runner wraps `Submit.run` only to timestamp it. R = N reducers. */
final class MrWorkload(spark: SparkSession, data: String, work: String,
    cpus: Int) extends Harness.Workload {
  import Harness._

  private val sc = spark.sparkContext
  private val reducers = cpus
  private val inputs = Seq("large", "small")
  private def out(name: String) = s"$work/mr/$name"

  // +x copies of the repo's word-count executables
  private val execDir = Files.createDirectories(Paths.get(s"$work/mr/exec"))
  private val scripts = Seq("wc_map.sh", "wc_reduce.sh").map { s =>
    val dst = execDir.resolve(s)
    Files.copy(Paths.get("src/test/resources/mr/exec", s), dst,
      StandardCopyOption.REPLACE_EXISTING)
    dst.toFile.setExecutable(true)
    dst.toString
  }

  /** (op name, span id) the next job the runner takes belongs to. */
  private val current = new AtomicReference(("", "0"))
  private val done = new LinkedBlockingQueue[(Double, Double, Option[Throwable])]()
  private val server = new graft.mr.ManagerServer(spark, runner = (s, argv) => {
    val (op, span) = current.get
    s.sparkContext.setLocalProperty(Props.Op, op)
    s.sparkContext.setLocalProperty(Props.Span, span)
    val t0 = Clock.nowMs()
    try {
      graft.mr.Submit.run(s, argv)
      done.put((t0, Clock.nowMs(), None))
    } catch { case NonFatal(e) => done.put((t0, Clock.nowMs(), Some(e))); throw e }
  }).start()

  private def send(msg: String): Unit = {
    val sock = new java.net.Socket("localhost", server.boundPort)
    try sock.getOutputStream.write(msg.getBytes("UTF-8"))
    finally sock.close()
  }

  private def native(in: String) = Op(s"native_$in", "native", ctx =>
    ctx.span("run", "mr.run") {
      graft.mr.WordCount.job(s"$data/$in", out(s"native_$in"), reducers)
        .run(spark, exactPartNames = true)
    })

  private def pipe(in: String) = Op(s"pipe_$in", "pipe", ctx => {
    val runId = ctx.nextId()
    current.set((s"pipe_$in", runId.toString))
    val sent = Clock.nowMs()
    send(json.writeValueAsString(Map(
      "message_type" -> "new_manager_job",
      "input_directory" -> s"$data/$in",
      "output_directory" -> out(s"pipe_$in"),
      "mapper_executable" -> scripts(0),
      "reducer_executable" -> scripts(1),
      "num_mappers" -> cpus,
      "num_reducers" -> reducers)))
    val (t0, t1, err) = Option(done.poll(170, TimeUnit.SECONDS))
      .getOrElse(throw new IllegalStateException("manager job did not finish"))
    ctx.record("queue", "mr.queue", sent, t0)
    ctx.record("run", "mr.run", t0, t1, runId)
    err.foreach(e => throw e)
  })

  def ops: Seq[Op] = inputs.map(native) ++ inputs.map(pipe)

  def setup(): Seq[(String, Double)] = Nil

  def describe(): Map[String, Any] = Map(
    "reducers" -> reducers,
    "outputs" -> ops.map(o => o.name -> out(o.name)).toMap)

  override def close(): Unit = {
    send("""{"message_type": "shutdown"}""")
    server.awaitTermination()
  }
}
