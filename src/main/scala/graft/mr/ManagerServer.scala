package graft.mr

import java.net.{DatagramPacket, DatagramSocket, InetSocketAddress, SocketTimeoutException}
import java.util.concurrent.LinkedBlockingQueue
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession

/** Network job-submission daemon mirroring the reference manager's TCP
  * surface (reference map_reduce/mapreduce/manager/__main__.py:140-210):
  * a JSON message per connection, read until the client closes, then
  * dispatched on `message_type`. This closes the one reference entry
  * point a user couldn't exercise verbatim against the rebuild — the
  * `mapreduce-submit` script posts its job dict over a socket
  * (reference submit.py:80-87), and this listener accepts exactly that
  * message shape:
  *
  *   {"message_type": "new_manager_job", "input_directory": ...,
  *    "output_directory": ..., "mapper_executable": ...,
  *    "reducer_executable": ..., "num_mappers": N, "num_reducers": N}
  *
  * Fidelity notes, mirroring the reference by line:
  *  - jobs get an incrementing `job_id` and append to a FIFO queue run
  *    strictly one at a time (manager/__main__.py:91-104, 215-222); a
  *    failed job does not stop the queue (the Submit.runQueueCli rule);
  *  - the output directory is deleted and recreated on RECEIPT, not at
  *    run time (manager/__main__.py:95-101);
  *  - undecodable JSON is ignored and the server keeps listening
  *    (manager/__main__.py:193-196);
  *  - accept/recv use 1 s timeouts so the shutdown flag is polled, like
  *    the reference's `sock.settimeout(1)` loops.
  *
  * WORKER-SIDE WIRE PROTOCOL (the full 8-message inventory, SURVEY
  * §1.2): the reference's `mapreduce-worker` binary registers over TCP,
  * heartbeats over UDP, and reports task completion over TCP. This
  * manager now SPEAKS that half too, so the reference worker binary
  * connects cleanly instead of hanging on a missing ack:
  *  - `register` (worker/__main__.py:282-300): the manager connects BACK
  *    to (worker_host, worker_port) and sends `register_ack`
  *    (manager/__main__.py:23-55); a refused connect-back marks every
  *    live worker on that HOST dead — the reference's connection_refused
  *    matches host only (manager/__main__.py:57-66), quirk preserved. A
  *    re-registration of a live host:port marks the old entry dead and
  *    appends a fresh one ("dead and revived", manager/__main__.py:39-46).
  *  - `heartbeat` over UDP to the same host:port every 2 s
  *    (worker/__main__.py:49-63): refreshes last_heartbeat for the first
  *    matching non-dead entry (manager/__main__.py:106-138).
  *  - fault tolerance (manager/__main__.py:426-438): a 2 s poll marks any
  *    worker silent for > 10 s dead (both intervals constructor-tunable
  *    for tests, defaults reference-exact).
  *  - `finished` (manager/__main__.py:197-207): increments the finished
  *    counter and flips the FIRST host:port match back to ready — the
  *    reference does not check state on that scan, so a dead entry can be
  *    revived to ready; quirk preserved.
  *  TASK DISPATCH has two modes:
  *  - default: Spark's scheduler executes the job in-process via
  *    [[Submit.run]] (the substrate owns real data movement — SURVEY
  *    §2.2's delegation); registered workers are tracked and acked but
  *    not sent task messages.
  *  - `dispatchToWorkers = true` (CLI `--dispatch-workers`): the
  *    reference's OWN run_job loop (manager/__main__.py:212-424) —
  *    every dequeued job is partitioned with [[WireDispatch]] and sent
  *    to registered workers as `new_map_task` / `new_reduce_task`
  *    messages over TCP; the manager blocks polling for a ready worker
  *    (1 s sleep, ref :262-263), drains `finished` messages, and
  *    re-dispatches failed tasks (a busy worker falling silent past the
  *    heartbeat timeout, or a refused connect, queues its current_task
  *    for reassignment — ref :279-323, :377-420, :426-438). Map output
  *    lands in a shared `mapreduce-shared-jobNNNNN-` tempdir, reduce
  *    output in the job's output_directory, both written BY THE WORKERS
  *    (shared filesystem assumed, as the reference assumes). One
  *    documented deviation: tasks_finished resets to 0 at the START of
  *    the map phase — the reference carries the previous job's reduce
  *    count into the next job's map barrier (manager/__main__.py:328 is
  *    the only reset), which can release the barrier before any map
  *    task ran when job N+1's num_mappers equals job N's num_reducers;
  *    correctness wins over that quirk.
  *
  * SHUTDOWN (`{"message_type": "shutdown"}`): forwards shutdown to every
  * non-dead registered worker by connecting to its host:port
  * (check_shutdown, manager/__main__.py:68-87), stops accepting, then:
  *  - default (drain): finishes the current job plus any already-accepted
  *    ones — a deliberate, documented deviation (accepted work is not
  *    silently lost);
  *  - `strictShutdown = true` (CLI `--strict-shutdown`): the reference's
  *    exact semantics — the run loop re-checks the shutdown flag and
  *    DROPS still-queued jobs (run_job's per-second check,
  *    manager/__main__.py:213-224); only the in-flight job completes.
  *
  * The worker fleet the reference dispatches to is Spark's scheduler:
  * each dequeued job runs through [[Submit.run]] (same executables
  * contract, byte-compat part-file output). On a real cluster this
  * daemon fronts a long-lived SparkSession the way the reference
  * manager fronts its worker pool. */
final class ManagerServer(spark: SparkSession, host: String = "localhost",
    port: Int = 0, strictShutdown: Boolean = false,
    heartbeatTimeoutMs: Long = 10000, faultPollMs: Long = 2000,
    dispatchToWorkers: Boolean = false,
    workerPollMs: Long = 1000,
    // the reference manager's --shared_dir (manager/__main__.py:519-522):
    // where the per-job shared tmpdir lives. MUST be on the same
    // filesystem as the workers' local tempdir — the reference worker
    // shutil.move's its map output while the file is STILL OPEN with
    // buffered writes (worker/__main__.py:157-165); a same-fs move is a
    // rename (inode keeps the later flush), but a cross-device move
    // copies the UNFLUSHED bytes and drops the sort. Default: the
    // system property the Python default tempdir also honors.
    sharedDir: Option[String] = None,
    runner: (SparkSession, Seq[String]) => Unit = Submit.run(_, _)) {

  /** Cross-device shared-dir warning, if any (r15 verdict #7): computed
    * at construction so the operator sees it BEFORE the first job's map
    * output silently loses its sort to a cross-device move. */
  val sharedDirWarning: Option[String] =
    if (dispatchToWorkers)
      sharedDir.flatMap(d =>
        ManagerServer.crossDeviceWarning(d, System.getProperty("java.io.tmpdir")))
    else None
  sharedDirWarning.foreach(w => System.err.println(s"WARNING: $w"))

  private val queue = new LinkedBlockingQueue[java.util.Map[String, Object]]()
  private val numJobs = new AtomicInteger(0)
  @volatile private var shutdownFlag = false
  @volatile private var failedJobs = 0
  private val tasksFinished = new AtomicInteger(0)
  @volatile private var droppedJobs = 0
  // tasks abandoned by a dead/refused busy worker, awaiting re-dispatch
  // (the reference's self.failed_tasks list, manager/__main__.py:494)
  private val failedTasks =
    new java.util.concurrent.ConcurrentLinkedQueue[Integer]()

  /** One registered worker — a LIST entry like the reference's
    * self.workers dicts (duplicates per host:port are possible by
    * design: re-registration appends). */
  private final class WorkerEntry(val host: String, val port: Int) {
    @volatile var state: String = "ready" // ready | busy | dead
    @volatile var lastHeartbeat: Long = System.currentTimeMillis()
    @volatile var currentTask: Int = -1 // ref current_task ({} when unset)
  }
  private val workers =
    new java.util.concurrent.CopyOnWriteArrayList[WorkerEntry]()

  private val server = WireDispatch.bindServer(host, port)

  // UDP heartbeat listener on the SAME host:port as the TCP server
  // (reference UDP_server, manager/__main__.py:106-127)
  private val udp = new DatagramSocket(null)
  udp.setReuseAddress(true)
  udp.bind(new InetSocketAddress(host, server.getLocalPort))
  udp.setSoTimeout(1000)

  /** The bound port (useful when constructed with port=0 / ephemeral). */
  def boundPort: Int = server.getLocalPort
  def isShutdown: Boolean = shutdownFlag
  def failedJobCount: Int = failedJobs
  def finishedCount: Int = tasksFinished.get
  def droppedJobCount: Int = droppedJobs
  /** Registration-ordered (host, port, state) snapshot — test probe. */
  def workerStates: Seq[(String, Int, String)] = {
    import scala.jdk.CollectionConverters._
    workers.asScala.map(w => (w.host, w.port, w.state)).toSeq
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Mark `w` dead under its entry lock (paired with dispatchTask's
    * claim, r15 ADVICE); a busy worker's in-flight task goes back on the
    * failed queue for re-dispatch first (ref :62-64, :426-438). Returns
    * false when `w` was already dead. */
  private def markDead(w: WorkerEntry): Boolean = w.synchronized {
    if (w.state == "dead") false
    else {
      if (w.state == "busy" && w.currentTask >= 0)
        failedTasks.add(w.currentTask)
      w.state = "dead"
      true
    }
  }

  /** The reference's connection_refused (manager/__main__.py:57-66):
    * every live worker on that HOST is marked dead (host-only match —
    * reference quirk), a busy one's task is abandoned. */
  private def connectionRefused(workerHost: String): Unit = {
    import scala.jdk.CollectionConverters._
    for (w <- workers.asScala if w.host == workerHost && w.state != "dead")
      if (markDead(w)) println("worker died") // ref :64
  }

  /** Connect back to the worker and send one JSON message; any failure
    * to reach it is a refused connection. */
  private def sendToWorker(wHost: String, wPort: Int, json: String): Unit =
    try WireDispatch.send(wHost, wPort, json)
    catch { case _: Exception => connectionRefused(wHost) }

  private def handleRegister(dict: java.util.Map[String, Object]): Unit = {
    import scala.jdk.CollectionConverters._
    val wHost = Option(dict.get("worker_host")).map(_.toString).getOrElse(return)
    val wPort = Option(dict.get("worker_port")).map(_.toString.toInt)
      .getOrElse(return)
    println("Received worker registration") // ref :26 (LOGGER.info)
    // reference order: mark a live same-host:port entry dead, APPEND the
    // fresh entry, then ack over a new connection (ref :39-55)
    workers.asScala.find(w =>
        w.host == wHost && w.port == wPort && w.state != "dead")
      .foreach { w =>
        w.state = "dead"
        println("worker marked as dead and revived") // ref :44
      }
    workers.add(new WorkerEntry(wHost, wPort))
    sendToWorker(wHost, wPort, mapper.writeValueAsString(
      java.util.Map.of(
        "message_type", "register_ack",
        "worker_host", wHost,
        "worker_port", Integer.valueOf(wPort))))
  }

  private def handleFinished(dict: java.util.Map[String, Object]): Unit = {
    import scala.jdk.CollectionConverters._
    println("RECEIVED FINISHED MESSAGE") // ref :198
    tasksFinished.incrementAndGet()
    for {
      wHost <- Option(dict.get("worker_host")).map(_.toString)
      wPort <- Option(dict.get("worker_port")).map(_.toString.toInt)
    } workers.asScala.find(w => w.host == wHost && w.port == wPort)
      .foreach { w => w.synchronized {
        w.state = "ready" // first match, state unchecked (ref :203)
        // deviation (r15 ADVICE): clear current_task so the fault
        // scanner can never re-queue an already-finished task when this
        // worker later falls silent (the reference leaves it set)
        w.currentTask = -1
      } }
  }

  private def handleHeartbeat(dict: java.util.Map[String, Object]): Unit = {
    import scala.jdk.CollectionConverters._
    for {
      wHost <- Option(dict.get("worker_host")).map(_.toString)
      wPort <- Option(dict.get("worker_port")).map(_.toString.toInt)
    } workers.asScala.find(w =>
        w.host == wHost && w.port == wPort && w.state != "dead")
      .foreach(_.lastHeartbeat = System.currentTimeMillis())
  }

  private def handleMessage(text: String): Unit = {
    val dict =
      try mapper.readValue(text, classOf[java.util.Map[String, Object]])
      catch { case _: Exception => return } // undecodable JSON: ignore
    dict.get("message_type") match {
      case "shutdown" =>
        println("Received shutdown message") // manager/__main__.py:71
        // forward shutdown to every non-dead worker (ref :72-86)
        import scala.jdk.CollectionConverters._
        for (w <- workers.asScala if w.state != "dead")
          sendToWorker(w.host, w.port, """{"message_type": "shutdown"}""")
        shutdownFlag = true
      case "register" => handleRegister(dict)
      case "finished" => handleFinished(dict)
      case "new_manager_job" =>
        val id = numJobs.getAndIncrement()
        dict.put("job_id", Integer.valueOf(id))
        // delete + recreate the output dir on receipt (ref :95-101)
        Option(dict.get("output_directory")).map(_.toString).foreach { od =>
          val f = new java.io.File(od)
          if (f.isDirectory) WireDispatch.deleteRecursive(f)
          f.mkdirs()
        }
        queue.put(dict)
      case _ => () // unknown types ignored
    }
  }

  private val acceptThread = new Thread(
    () => WireDispatch.acceptLoop(server, shutdownFlag)(handleMessage),
    "graft-manager-tcp")

  private val udpThread = new Thread(() => {
    val buf = new Array[Byte](4096)
    while (!shutdownFlag) {
      val pkt = new DatagramPacket(buf, buf.length)
      val got =
        try { udp.receive(pkt); true }
        catch {
          case _: SocketTimeoutException => false
          case _: Exception => false
        }
      if (got) {
        val text = new String(pkt.getData, pkt.getOffset, pkt.getLength, "UTF-8")
        try {
          val dict = mapper.readValue(text, classOf[java.util.Map[String, Object]])
          if (dict.get("message_type") == "heartbeat") handleHeartbeat(dict)
        } catch { case _: Exception => () } // undecodable: ignore (ref :124)
      }
    }
    udp.close()
  }, "graft-manager-udp")

  private val faultThread = new Thread(() => {
    import scala.jdk.CollectionConverters._
    while (!shutdownFlag) {
      val now = System.currentTimeMillis()
      // reference fault_tolerance (ref :426-438)
      for (w <- workers.asScala
           if now - w.lastHeartbeat > heartbeatTimeoutMs && w.state != "dead")
        markDead(w)
      try Thread.sleep(faultPollMs)
      catch { case _: InterruptedException => () }
    }
  }, "graft-manager-fault")

  // ---- over-the-wire task dispatch (reference run_job, ref :212-424) ----

  /** Block until a ready worker exists (1 s poll, ref :262-263), mark it
    * busy with this task, and send it the message. A refused connect
    * routes through connectionRefused, which re-queues the task. Returns
    * false only when shutdown arrived while waiting. */
  private def dispatchTask(taskId: Int,
      mkMsg: (String, Int) => String): Boolean = {
    import scala.jdk.CollectionConverters._
    while (!shutdownFlag) {
      workers.asScala.find(_.state == "ready") match {
        case Some(w) =>
          // reference order (ref :257-275): mark busy + current_task
          // FIRST, then connect-and-send — a refused send then lands the
          // task on the failed queue via connection_refused. The claim
          // re-checks state under the entry lock (r15 ADVICE): the fault
          // thread can mark this worker dead between the find and the
          // write, and an unguarded write would resurrect dead→busy and
          // strand the task for an extra full heartbeat timeout.
          val claimed = w.synchronized {
            if (w.state == "ready") {
              w.state = "busy"; w.currentTask = taskId; true
            } else false
          }
          if (claimed) {
            sendToWorker(w.host, w.port, mkMsg(w.host, w.port))
            return true
          } // else: lost the race; rescan for another ready worker
        case None => Thread.sleep(workerPollMs)
      }
    }
    false
  }

  /** The reference's phase barrier (ref :280-323 map, :377-420 reduce):
    * spin until `n` finished messages arrived AND no failed task is
    * pending, re-dispatching failures as ready workers appear.
    * Documented deviation #2 (r15 ADVICE): exit on `>= n`, not the
    * reference's `!= n` — if a slow-but-alive worker is declared dead
    * (workers may not heartbeat mid-task) and BOTH it and its
    * replacement report finished, the counter overshoots n and a
    * `!=` barrier spins forever, wedging the job queue. */
  private def awaitPhase(n: Int, mkMsg: Int => (String, Int) => String): Unit =
    while (!shutdownFlag &&
        (!failedTasks.isEmpty || tasksFinished.get < n)) {
      val t = failedTasks.poll()
      if (t != null) dispatchTask(t, mkMsg(t))
      else Thread.sleep(100)
    }

  /** One job over the wire: partition → new_map_task fleet → barrier →
    * new_reduce_task fleet → barrier. Workers write all output (map to
    * the shared tmpdir, reduce to the job's output_directory). */
  private def runWireJob(job: java.util.Map[String, Object]): Unit = {
    val jobId = job.get("job_id").toString.toInt
    val nm = job.get("num_mappers").toString.toInt
    val nr = job.get("num_reducers").toString.toInt
    val inputDir = job.get("input_directory").toString
    val outputDir = job.get("output_directory").toString
    val tmpdir = (sharedDir match {
      case Some(d) => java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get(d), f"mapreduce-shared-job$jobId%05d-")
      case None => java.nio.file.Files
        .createTempDirectory(f"mapreduce-shared-job$jobId%05d-")
    }).toFile
    def msgJson(msgType: String, taskId: Int, inputs: Vector[String],
        exe: String, outDir: String, extra: Map[String, Object])(
        wHost: String, wPort: Int): String = {
      val m = new java.util.LinkedHashMap[String, Object]()
      m.put("message_type", msgType)
      m.put("task_id", Integer.valueOf(taskId))
      m.put("input_paths", java.util.List.copyOf(
        scala.jdk.CollectionConverters.SeqHasAsJava(inputs).asJava))
      m.put("executable", exe)
      m.put("output_directory", outDir)
      extra.foreach { case (k, v) => m.put(k, v) }
      m.put("worker_host", wHost)
      m.put("worker_port", Integer.valueOf(wPort))
      mapper.writeValueAsString(m)
    }
    try {
      val files = Option(new java.io.File(inputDir).list())
        .getOrElse(Array.empty[String]).toSeq
      val partitions = WireDispatch.inputPartition(files, nm, inputDir)
      // MAP (documented deviation: reset the finished counter here — the
      // reference's only reset is between phases, see the class scaladoc)
      tasksFinished.set(0)
      failedTasks.clear()
      def mapMsg(taskId: Int): (String, Int) => String =
        msgJson("new_map_task", taskId, partitions(taskId),
          job.get("mapper_executable").toString, tmpdir.getPath,
          Map("num_partitions" -> Integer.valueOf(nr)))
      for (i <- 0 until nm if !shutdownFlag) dispatchTask(i, mapMsg(i))
      awaitPhase(nm, mapMsg)
      if (shutdownFlag) return
      // REDUCE (ref :325-334)
      tasksFinished.set(0)
      failedTasks.clear()
      val shuffleFiles = Option(tmpdir.list())
        .getOrElse(Array.empty[String]).toSeq
      val reduceParts =
        WireDispatch.inputPartitionReduce(shuffleFiles, nr, tmpdir.getPath)
      def redMsg(taskId: Int): (String, Int) => String =
        msgJson("new_reduce_task", taskId, reduceParts(taskId),
          job.get("reducer_executable").toString, outputDir, Map.empty)
      for (i <- 0 until nr if !shutdownFlag) dispatchTask(i, redMsg(i))
      awaitPhase(nr, redMsg)
      if (!shutdownFlag) Thread.sleep(1000) // ref :421
    } finally WireDispatch.deleteRecursive(tmpdir)
  }

  private val runnerThread = new Thread(() => {
    // drain mode keeps accepted work; strict mode mirrors the reference
    // run loop, which exits on the flag and drops still-queued jobs
    while (!shutdownFlag || (!strictShutdown && !queue.isEmpty)) {
      val job = queue.poll(200, java.util.concurrent.TimeUnit.MILLISECONDS)
      if (job != null) {
        println(s"running job ${job.get("job_id")}") // ref :216
        val argv = Seq(
          "-i", job.get("input_directory").toString,
          "-o", job.get("output_directory").toString,
          "-m", job.get("mapper_executable").toString,
          "-r", job.get("reducer_executable").toString,
          "--nmappers", job.get("num_mappers").toString,
          "--nreducers", job.get("num_reducers").toString)
        try {
          if (dispatchToWorkers) runWireJob(job)
          else runner(spark, argv)
        } catch { case scala.util.control.NonFatal(e) =>
          failedJobs += 1
          System.err.println(
            s"job ${job.get("job_id")} failed: " +
              Option(e.getMessage).getOrElse(e.toString))
        }
      }
    }
    if (strictShutdown && !queue.isEmpty) {
      droppedJobs = queue.size()
      System.err.println(
        s"strict shutdown: dropping $droppedJobs queued job(s) " +
          "(reference run-loop semantics)")
      queue.clear()
    }
  }, "graft-manager-runner")

  def start(): this.type = {
    acceptThread.setDaemon(true)
    runnerThread.setDaemon(true)
    udpThread.setDaemon(true)
    faultThread.setDaemon(true)
    acceptThread.start()
    runnerThread.start()
    udpThread.start()
    faultThread.start()
    println(s"starting tcp server on manager") // ref :148
    this
  }

  /** Block until a shutdown message has been received AND the runner has
    * finished (drain mode: queue emptied; strict mode: current job only). */
  def awaitTermination(): Unit = {
    acceptThread.join()
    runnerThread.join()
  }
}

object ManagerServer {

  /** Returns a warning when `sharedDir` and `localTmp` live on different
    * filesystems (r15 verdict #7). The reference worker shutil.move's
    * its map output from its local tempdir into the shared job dir
    * while the file is STILL OPEN with buffered writes
    * (worker/__main__.py:157-165): a same-fs move is a rename (the
    * inode keeps the later flush), but a cross-device move COPIES the
    * unflushed bytes and silently drops the tail of the sorted output.
    * Heuristic: the manager's java.io.tmpdir stands in for the workers'
    * local tempdir (true for same-host fleets, the reference's default
    * topology) — so this warns rather than refuses. */
  private[mr] def crossDeviceWarning(sharedDir: String,
      localTmp: String): Option[String] = {
    import java.nio.file.{Files, Path, Paths}
    // a not-yet-created dir still gets checked: walk up to the nearest
    // EXISTING ancestor (its filesystem is where mkdirs will land) —
    // otherwise the operator about to create the dir on the wrong
    // device is exactly the one who gets no warning
    def existing(p: Path): Path = {
      var cur = p.toAbsolutePath
      while (cur != null && !Files.exists(cur)) cur = cur.getParent
      if (cur == null) p.toAbsolutePath else cur
    }
    try {
      val a = Files.getFileStore(existing(Paths.get(sharedDir)).toRealPath())
      val b = Files.getFileStore(existing(Paths.get(localTmp)).toRealPath())
      if (a != b) Some(
        s"--shared-dir '$sharedDir' (fs $a) is on a different filesystem " +
          s"than the local tempdir '$localTmp' (fs $b): the reference " +
          "worker moves OPEN buffered map output into the shared dir — a " +
          "cross-device move copies unflushed bytes and silently loses " +
          "the sort. Put --shared-dir on the workers' tmp filesystem.")
      else None
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** `runMain graft.mr.ManagerServer [--host h] [--port p]
    * [--strict-shutdown] [--dispatch-workers]` — listen until a shutdown
    * message arrives (reference default port 6000,
    * map_reduce/bin/mapreduce:24). With `--dispatch-workers`, jobs are
    * sent to registered `mapreduce-worker` processes as
    * new_map_task/new_reduce_task messages instead of running on Spark. */
  def main(args: Array[String]): Unit = {
    var host = "localhost"
    var port = 6000
    var strict = false
    var dispatch = false
    var shared: Option[String] = None
    var rest = args.toList
    while (rest.nonEmpty) rest = rest match {
      case "--host" :: v :: t => host = v; t
      case "--port" :: v :: t => port = v.toInt; t
      case "--strict-shutdown" :: t => strict = true; t
      case "--dispatch-workers" :: t => dispatch = true; t
      case "--shared-dir" :: v :: t => shared = Some(v); t
      case other =>
        throw new IllegalArgumentException(s"unknown option: ${other.head}")
    }
    val spark = WireDispatch.localSession()
    val srv = new ManagerServer(spark, host, port,
      strictShutdown = strict, dispatchToWorkers = dispatch,
      sharedDir = shared).start()
    try srv.awaitTermination()
    finally spark.stop()
  }
}
