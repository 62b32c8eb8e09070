package graft.mr

import java.io.{BufferedReader, BufferedWriter, File, InputStreamReader, OutputStreamWriter}
import java.net.{DatagramPacket, DatagramSocket, InetAddress}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicReference}

/** Worker-side wire client: the inverse of [[ManagerServer]]'s dispatch
  * mode, able to serve under the UNMODIFIED reference manager binary
  * (`python3 -m mapreduce.manager`). Mirrors the reference worker's
  * lifecycle and task execution byte-for-byte
  * (reference map_reduce/mapreduce/worker/__main__.py):
  *
  *  - bind a TCP server, send `register` to the manager, and start the
  *    2 s UDP heartbeat loop only once `register_ack` arrives
  *    (worker/__main__.py:302-337, :32-37, :49-63);
  *  - `new_map_task` (worker/__main__.py:89-180): run the executable
  *    once per input path with the file on stdin; route each stdout
  *    line to `maptask{task:05d}-part{i:05d}` by
  *    `int(md5(key),16) % num_partitions` where key = text up to the
  *    first tab — INCLUDING the trailing newline when a line has no tab
  *    (the reference splits the still-terminated line); sort each
  *    partition file by Unicode CODE POINT (Python's string order, not
  *    Java's UTF-16-unit order) and move it into the shared
  *    output_directory; send `finished`;
  *  - `new_reduce_task` (worker/__main__.py:182-221): k-way merge the
  *    sorted inputs (heapq.merge semantics — code-point order, ties
  *    stable by input index), stream into the reducer's stdin with its
  *    stdout on `part-{task:05d}`, move into output_directory, send
  *    `finished`;
  *  - `shutdown` stops all loops (worker/__main__.py:41-46).
  *
  * Documented deviations (correctness-over-quirk, none observable in
  * output bytes):
  *  - partition files are moved AFTER close — the reference
  *    shutil.move's them while still open with buffered writes
  *    (worker/__main__.py:157-165), which silently loses the sorted
  *    tail on a cross-device move; closing first makes the move safe on
  *    any filesystem topology.
  *  - the task-poll loop sleeps 10 ms between checks instead of the
  *    reference's bare `continue` busy-spin (run_job,
  *    worker/__main__.py:77-86); the post-task 1 s sleep is preserved.
  *  - registration retries a refused connect (500 ms) until the manager
  *    is up — the reference catches only socket.timeout there, so a
  *    refused connect kills its registration thread outright.
  *  - partition files open once across all input paths; the reference
  *    re-opens them in append mode per input path — same bytes. */
final class WorkerClient(host: String = "localhost", port: Int = 0,
    managerHost: String = "localhost", managerPort: Int = 6000,
    heartbeatMs: Long = 2000) {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  @volatile private var shutdownFlag = false
  @volatile private var killed = false
  private val inflight = new AtomicReference[Process](null)
  // (message_type, task_id) of every task message, in arrival order
  private val received = new ConcurrentLinkedQueue[(String, String)]()
  private val heartbeatsStarted = new AtomicBoolean(false)
  private val mapSlot =
    new AtomicReference[java.util.Map[String, Object]](null)
  private val reduceSlot =
    new AtomicReference[java.util.Map[String, Object]](null)
  private val tasksDone = new AtomicInteger(0)

  private val server = WireDispatch.bindServer(host, port)

  def boundPort: Int = server.getLocalPort
  def isShutdown: Boolean = shutdownFlag
  def completedTasks: Int = tasksDone.get
  def receivedTasks: Int = received.size
  /** (message_type, task_id) of every task received — test probe. */
  def receivedTaskLog: Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    received.asScala.toSeq
  }
  def heartbeating: Boolean = heartbeatsStarted.get

  private def checkKilled(): Unit =
    if (killed) throw new InterruptedException("worker killed")

  // ---- outbound messages ----

  private def sendToManager(json: String): Unit =
    WireDispatch.send(managerHost, managerPort, json)

  private def idMsg(msgType: String): String =
    mapper.writeValueAsString(java.util.Map.of(
      "message_type", msgType,
      "worker_host", host,
      "worker_port", Integer.valueOf(boundPort)))

  /** register, retrying while the manager port is still coming up. */
  private def sendRegistration(): Unit =
    while (!shutdownFlag) {
      try { sendToManager(idMsg("register")); return }
      catch { case _: Exception => Thread.sleep(500) }
    }

  private def sendFinished(taskId: Int): Unit =
    if (!killed) sendToManager(mapper.writeValueAsString(java.util.Map.of(
      "message_type", "finished",
      "task_id", Integer.valueOf(taskId),
      "worker_host", host,
      "worker_port", Integer.valueOf(boundPort))))

  // ---- task execution ----

  /** Key = text up to the first tab of the NEWLINE-TERMINATED line
    * (reference line.split("\t")[0] on a line that still carries its
    * "\n": a tab-less line's key includes the newline). */
  private[mr] def lineKey(line: String): String = {
    val t = line + "\n"
    val i = t.indexOf('\t')
    if (i >= 0) t.substring(0, i) else t
  }

  private def runMapTask(msg: java.util.Map[String, Object]): Unit = {
    import scala.jdk.CollectionConverters._
    val taskId = msg.get("task_id").toString.toInt
    val inputs = msg.get("input_paths")
      .asInstanceOf[java.util.List[Object]].asScala.map(_.toString).toSeq
    val exe = msg.get("executable").toString
    val outDir = msg.get("output_directory").toString
    val nPart = msg.get("num_partitions").toString.toInt
    val tmpdir = Files.createTempDirectory(f"mapreduce-local-task$taskId%05d-")
    try {
      val partFiles = (0 until nPart)
        .map(i => tmpdir.resolve(f"maptask$taskId%05d-part$i%05d").toFile)
      val writers = partFiles.map(f => new BufferedWriter(
        new OutputStreamWriter(new java.io.FileOutputStream(f, true), UTF_8)))
      try for (ip <- inputs) {
        // kill() may fire BETWEEN input files (inflight momentarily
        // null): check the flag before every launch, and re-check after
        // publishing so a racing kill() always has a process to destroy
        checkKilled()
        val pb = new ProcessBuilder(exe)
        pb.redirectInput(new File(ip))
        pb.redirectError(ProcessBuilder.Redirect.INHERIT)
        val p = pb.start()
        inflight.set(p)
        if (killed) p.destroyForcibly()
        val br = new BufferedReader(new InputStreamReader(p.getInputStream, UTF_8))
        var line = br.readLine()
        while (line != null) {
          writers(Md5Partitioner.partition(lineKey(line), nPart))
            .write(line + "\n")
          line = br.readLine()
        }
        p.waitFor()
        inflight.set(null)
        checkKilled()
      } finally writers.foreach(_.close())
      checkKilled()
      for (f <- partFiles) {
        val lines = splitKeepNewlines(
          new String(Files.readAllBytes(f.toPath), UTF_8))
        java.util.Arrays.sort(lines, MapReduceJob.CodePointOrder)
        Files.write(f.toPath, lines.mkString.getBytes(UTF_8))
        Files.move(f.toPath, Paths.get(outDir, f.getName),
          StandardCopyOption.REPLACE_EXISTING)
      }
    } finally WireDispatch.deleteRecursive(tmpdir.toFile)
    sendFinished(taskId)
  }

  private def runReduceTask(msg: java.util.Map[String, Object]): Unit = {
    import scala.jdk.CollectionConverters._
    val taskId = msg.get("task_id").toString.toInt
    val inputs = msg.get("input_paths")
      .asInstanceOf[java.util.List[Object]].asScala.map(_.toString).toSeq
    val exe = msg.get("executable").toString
    val outDir = msg.get("output_directory").toString
    val tmpdir = Files.createTempDirectory(f"mapreduce-local-task$taskId%05d-")
    try {
      val outFile = tmpdir.resolve(f"part-$taskId%05d").toFile
      val readers = inputs.map(ip => new BufferedReader(
        new InputStreamReader(new java.io.FileInputStream(ip), UTF_8)))
      try {
        checkKilled()
        val pb = new ProcessBuilder(exe)
        pb.redirectOutput(outFile)
        pb.redirectError(ProcessBuilder.Redirect.INHERIT)
        val p = pb.start()
        inflight.set(p)
        if (killed) p.destroyForcibly()
        val stdin = new BufferedWriter(
          new OutputStreamWriter(p.getOutputStream, UTF_8))
        try mergeInto(readers, stdin) finally stdin.close()
        p.waitFor()
        inflight.set(null)
      } finally readers.foreach(r => { try r.close() catch { case _: Exception => () } })
      checkKilled()
      Files.move(outFile.toPath, Paths.get(outDir, outFile.getName),
        StandardCopyOption.REPLACE_EXISTING)
    } finally WireDispatch.deleteRecursive(tmpdir.toFile)
    sendFinished(taskId)
  }

  /** heapq.merge over the sorted inputs: a k-entry heap ordered by
    * (code-point line order, input index) — the index is exactly
    * CPython merge's stability tiebreak. Lines are stored
    * newline-TERMINATED in the heap (the form the reference compares),
    * so the hot loop does zero per-comparison allocation. */
  private def mergeInto(readers: Seq[BufferedReader],
      out: BufferedWriter): Unit = {
    val heap = new java.util.PriorityQueue[(String, Int)](
      math.max(1, readers.size),
      (a: (String, Int), b: (String, Int)) => {
        val c = MapReduceJob.CodePointOrder.compare(a._1, b._1)
        if (c != 0) c else Integer.compare(a._2, b._2)
      })
    for ((r, i) <- readers.zipWithIndex) {
      val l = r.readLine()
      if (l != null) heap.add((l + "\n", i))
    }
    while (!heap.isEmpty) {
      val (line, i) = heap.poll()
      out.write(line)
      val next = readers(i).readLine()
      if (next != null) heap.add((next + "\n", i))
    }
  }

  private def splitKeepNewlines(s: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var start = 0
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '\n') { out += s.substring(start, i + 1); start = i + 1 }
      i += 1
    }
    if (start < s.length) out += s.substring(start)
    out.toArray
  }

  // ---- threads ----

  private val heartbeatThread = new Thread(() => {
    val sock = new DatagramSocket()
    val bytes = idMsg("heartbeat").getBytes(UTF_8)
    val addr = InetAddress.getByName(managerHost)
    try while (!shutdownFlag) {
      sock.send(new DatagramPacket(bytes, bytes.length, addr, managerPort))
      Thread.sleep(heartbeatMs)
    } catch { case _: InterruptedException => () }
    finally sock.close()
  }, "graft-worker-heartbeat")

  private def queueTask(msgType: String,
      slot: AtomicReference[java.util.Map[String, Object]],
      dict: java.util.Map[String, Object]): Unit = {
    slot.set(dict)
    received.add((msgType, String.valueOf(dict.get("task_id")))); ()
  }

  private def handleMessage(text: String): Unit = {
    val dict =
      try mapper.readValue(text, classOf[java.util.Map[String, Object]])
      catch { case _: Exception => return } // undecodable JSON: ignore
    dict.get("message_type") match {
      case "shutdown" => shutdownFlag = true
      case "register_ack" =>
        if (heartbeatsStarted.compareAndSet(false, true)) {
          heartbeatThread.setDaemon(true)
          heartbeatThread.start()
        }
      case "new_map_task" => queueTask("new_map_task", mapSlot, dict)
      case "new_reduce_task" => queueTask("new_reduce_task", reduceSlot, dict)
      case _ => ()
    }
  }

  private val acceptThread = new Thread(() => {
    sendRegistration() // after bind+listen, before the accept loop (ref :327)
    WireDispatch.acceptLoop(server, shutdownFlag)(handleMessage)
  }, "graft-worker-tcp")

  private val runJobThread = new Thread(() => {
    while (!shutdownFlag) {
      val m = mapSlot.getAndSet(null)
      val r = if (m == null) reduceSlot.getAndSet(null) else null
      if (m != null || r != null) {
        try {
          if (m != null) runMapTask(m) else runReduceTask(r)
          tasksDone.incrementAndGet()
        } catch {
          case _: InterruptedException => () // killed mid-task
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"worker task failed: ${e.getMessage}")
        }
        Thread.sleep(1000) // ref run_job's post-task sleep (:86)
      } else Thread.sleep(10)
    }
  }, "graft-worker-run")

  def start(): this.type = {
    acceptThread.setDaemon(true)
    runJobThread.setDaemon(true)
    acceptThread.start()
    runJobThread.start()
    this
  }

  /** Block until a shutdown message has been processed. */
  def awaitTermination(): Unit = {
    acceptThread.join()
    runJobThread.join()
  }

  /** Abrupt kill (test hook for the manager's fault-tolerance path):
    * stops heartbeats, aborts the in-flight task (its executable is
    * destroyed and `finished` is suppressed), and closes the server —
    * the manager must detect the silence and re-dispatch. */
  def kill(): Unit = {
    killed = true
    shutdownFlag = true
    Option(inflight.get()).foreach(_.destroyForcibly())
    try server.close() catch { case _: Exception => () }
  }
}

object WorkerClient {

  /** `runMain graft.mr.WorkerClient [--host h] [--port p]
    * [--manager-host h] [--manager-port p]` — the reference
    * `mapreduce-worker` CLI shape (worker/__main__.py:340-347). */
  def main(args: Array[String]): Unit = {
    var host = "localhost"
    var port = 6001
    var mHost = "localhost"
    var mPort = 6000
    var rest = args.toList
    while (rest.nonEmpty) rest = rest match {
      case "--host" :: v :: t => host = v; t
      case "--port" :: v :: t => port = v.toInt; t
      case "--manager-host" :: v :: t => mHost = v; t
      case "--manager-port" :: v :: t => mPort = v.toInt; t
      case other =>
        throw new IllegalArgumentException(s"unknown option: ${other.head}")
    }
    new WorkerClient(host, port, mHost, mPort).start().awaitTermination()
  }
}
