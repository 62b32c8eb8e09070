package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Query-time confs without writing the caller's SQLConf.
  *
  * A query that needs its own confs (a stream gate's state partitions or
  * state-store provider, AutoSalt's optimizer switch) plans and runs in a
  * child of the caller's session instead of setting and restoring the
  * caller's conf. Concurrent queries on the caller therefore always plan
  * under the caller's own conf, and a checkpointed stream always plans
  * under the confs its restart will see.
  *
  * The child is a `cloneSession()`, not a `newSession()`: it starts from
  * the caller's runtime confs, functions, temp views and experimental
  * rules, which `newSession()` would drop. Children are cached per
  * (caller, caller conf ++ scoped confs) and never written after they are
  * built, so a caller conf change made between two calls reaches the
  * second call through a new child, and concurrent calls never race on a
  * child's conf. The cache must stay bounded: every session's
  * `StreamingQueryManager` adds a listener bus to the SparkContext that
  * is never removed, so one child per call would leak one bus per call.
  *
  * A child's listener buses report only its own queries, so each child
  * forwards every event to the caller's current listeners: stream events
  * to those on the caller's `spark.streams` (a listener registered on
  * both sees each event once), and query executions (the child's batch
  * queries and its streams' micro-batches) to those on the caller's
  * `listenerManager`, in place of the copies the clone took. */
object Scoped {

  private val children = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, Map[String, String]), SparkSession]()

  /** The caller's child whose conf is the caller's current conf with
    * `confs` on top. */
  def session(caller: SparkSession, confs: Map[String, String])
      : SparkSession =
    children.computeIfAbsent((caller, caller.conf.getAll ++ confs), _ => {
      val child = ColumnBridge.cloneSession(caller)
      confs.foreach { case (k, v) => child.conf.set(k, v) }
      child.streams.addListener(new Forward(caller, child))
      child.listenerManager.clear()
      child.listenerManager.register(new ForwardExecutions(caller))
      child
    })

  /** `df`, analyzed in a child, as a DataFrame of the caller. */
  def rebind(caller: SparkSession, df: DataFrame): DataFrame =
    ColumnBridge.ofRows(caller, ColumnBridge.logicalPlan(df))

  private final class Forward(caller: SparkSession, child: SparkSession)
      extends StreamingQueryListener {
    import StreamingQueryListener._
    private def each(f: StreamingQueryListener => Unit): Unit = {
      val own = child.streams.listListeners().toSet
      caller.streams.listListeners().filterNot(own).foreach(f)
    }
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      each(_.onQueryStarted(e))
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      each(_.onQueryProgress(e))
    override def onQueryIdle(e: QueryIdleEvent): Unit =
      each(_.onQueryIdle(e))
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      each(_.onQueryTerminated(e))
  }

  private final class ForwardExecutions(caller: SparkSession)
      extends QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      ColumnBridge.queryListeners(caller).foreach(_.onSuccess(f, qe, ns))
    override def onFailure(f: String, qe: QueryExecution, e: Exception)
        : Unit =
      ColumnBridge.queryListeners(caller).foreach(_.onFailure(f, qe, e))
  }
}
