package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. Times are epoch milliseconds
  * (fractional), the clock Spark's listener events use, so spans recorded
  * by the harness and by the listeners nest on one time line. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    start: Double, end: Double)

/** Local properties that carry the current op and span into the jobs it
  * launches (they are inherited by threads the op starts, e.g. stream
  * execution threads, which overwrite the job group). */
object Props {
  val Op = "perfbench.op"
  val Span = "perfbench.span"
}

/** Span recorder. Spans stay in memory until the run ends. */
final class Tracer {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()

  def nextId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = { spans.add(s); () }

  /** Time `body` as a span; `id` is fixed up front so callees can parent
    * their own spans (and Spark jobs) to it. */
  def span[T](name: String, layer: String, parent: Long, id: Long = nextId())(
      body: => T): T = {
    val t0 = Clock.nowMs()
    try body
    finally add(Span(id, parent, name, layer, t0, Clock.nowMs()))
  }
}

object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Epoch ms with sub-ms resolution from the monotonic clock. */
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** Classifies Spark jobs by what launched them. */
object JobKind {
  private val SchemaInference = """^parquet at Tables\.scala:\d+$""".r

  /** A job launched by a schema-less `spark.read.parquet` inside
    * graft.Tables: Spark names its only stage after the call site. */
  def isSchemaInference(stageNames: Seq[String]): Boolean =
    stageNames.nonEmpty &&
      stageNames.forall(n => SchemaInference.matches(n.trim))
}

/** Records the scheduler's jobs and stages over a traced region, each job
  * under the span that launched it (the caller turns them into spans), and
  * sums task metrics. Handlers run on Spark's listener bus thread. */
final class ExecListener extends SparkListener {
  final class JobRec(val id: Int, val op: String, val parent: Long,
      val start: Double, val stageIds: Seq[Int], val schema: Boolean) {
    var end: Option[Double] = None
  }
  final class StageRec(val job: JobRec, val id: Int) {
    var name = ""
    var start: Option[Double] = None
    var end: Option[Double] = None
    var tasks = 0
    var writeRecords = 0L
    var writeBytes = 0L
    var spillBytes = 0L
    val readRecords = mutable.ArrayBuffer[Long]()
  }

  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val stages = mutable.LinkedHashMap[Int, StageRec]()
  val c = mutable.Map[String, Double]().withDefaultValue(0.0)

  private def prop(p: java.util.Properties, k: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(k)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val schema = JobKind.isSchemaInference(e.stageInfos.map(_.name))
    val j = new JobRec(e.jobId, prop(e.properties, Props.Op).getOrElse(""),
      prop(e.properties, Props.Span).map(_.toLong).getOrElse(0L),
      e.time.toDouble, e.stageIds, schema)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stages.getOrElseUpdate(s, new StageRec(j, s)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = Some(e.time.toDouble))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      stages.get(i.stageId).foreach { s =>
        s.name = i.name
        s.start = i.submissionTime.map(_.toDouble)
        s.end = i.completionTime.map(_.toDouble)
        s.tasks = i.numTasks
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    c("exec.tasks") += 1
    if (!e.taskInfo.successful) c("exec.failed_tasks") += 1
    val m = e.taskMetrics
    if (m != null) {
      c("exec.run_s") += m.executorRunTime / 1e3
      c("exec.cpu_s") += m.executorCpuTime / 1e9
      c("exec.shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
      c("exec.shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
      c("exec.spill_bytes") += m.diskBytesSpilled
      c("tables.output_bytes") += m.outputMetrics.bytesWritten
      stages.get(e.stageId).foreach { s =>
        s.readRecords += m.shuffleReadMetrics.recordsRead
        s.writeRecords += m.shuffleWriteMetrics.recordsWritten
        s.writeBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.diskBytesSpilled
      }
    }
  }
}

/** Sums `QueryPlanningTracker` phase times of every executed query. */
final class CatalystListener extends QueryExecutionListener {
  val c = mutable.Map[String, Double]().withDefaultValue(0.0)

  private def add(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, p) =>
      c(s"catalyst.${phase}_s") += p.durationMs / 1e3
    }
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    add(qe)
}

/** Micro-batch progress of every streaming query. */
final class StreamListener extends StreamingQueryListener {
  import StreamingQueryListener._
  val c = mutable.Map[String, Double]().withDefaultValue(0.0)
  val batchMs = mutable.ArrayBuffer[Double]()
  val firstBatchS = mutable.ArrayBuffer[Double]()
  private val started = mutable.Map[java.util.UUID, Double]()
  private val stateRows = mutable.Map[java.util.UUID, Double]()

  private def epochMs(iso: String): Double =
    java.time.Instant.parse(iso).toEpochMilli.toDouble

  override def onQueryStarted(e: QueryStartedEvent): Unit = synchronized {
    started(e.runId) = epochMs(e.timestamp)
  }

  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
    c("streaming.batches") += 1
    d.get("triggerExecution").foreach(batchMs += _)
    started.remove(p.runId).foreach { t0 =>
      firstBatchS += (epochMs(p.timestamp) +
        d.getOrElse("triggerExecution", 0.0) - t0) / 1e3
    }
    for ((k, name) <- Seq("queryPlanning" -> "planning_ms",
        "addBatch" -> "add_batch_ms", "latestOffset" -> "latest_offset_ms",
        "walCommit" -> "wal_commit_ms", "commitOffsets" -> "commit_offsets_ms"))
      c(s"streaming.$name") += d.getOrElse(k, 0.0)
    if (p.stateOperators.nonEmpty) {
      c("streaming.state_commit_ms") += p.stateOperators.map(_.commitTimeMs).sum
      stateRows(p.runId) = p.stateOperators.map(_.numRowsTotal).sum.toDouble
    }
  }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  /** Rows held in state at each query's last progress, summed. */
  def finalStateRows: Double = synchronized(stateRows.values.sum)
}
