package graft.mr

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.SparkSpec

/** E2E of the TCP submission daemon through a RAW SOCKET CLIENT doing
  * exactly what the reference `mapreduce-submit` does (reference
  * submit.py:80-87: connect, sendall the JSON dict, close): the one
  * reference entry point the in-process [[Submit]] facade didn't cover. */
class ManagerServerSpec extends SparkSpec {

  /** submit.py's exact client behavior: one JSON message, then close. */
  private def send(port: Int, json: String): Unit = {
    val s = new java.net.Socket("localhost", port)
    try {
      s.getOutputStream.write(json.getBytes("UTF-8"))
      s.getOutputStream.flush()
    } finally s.close()
  }

  private def jobJson(in: String, out: String, m: String, r: String,
      nm: Int = 2, nr: Int = 2): String =
    s"""{"message_type": "new_manager_job",
       |"input_directory": "$in", "output_directory": "$out",
       |"mapper_executable": "$m", "reducer_executable": "$r",
       |"num_mappers": $nm, "num_reducers": $nr}""".stripMargin

  private def awaitFile(path: String, timeoutMs: Long = 60000): Boolean = {
    val t0 = System.currentTimeMillis()
    while (System.currentTimeMillis() - t0 < timeoutMs) {
      if (Files.exists(Paths.get(path))) return true
      Thread.sleep(100)
    }
    false
  }

  test("socket-submitted jobs run FIFO; bad JSON ignored; shutdown ends the server") {
    val mapSh = stageExecutable("/mr/exec/wc_map.sh")
    val reduceSh = stageExecutable("/mr/exec/wc_reduce.sh")
    val in = tmpDir("mgr-in")
    Files.writeString(Paths.get(in, "a.txt"), "to be or not to be\n")
    val out1 = tmpDir("mgr-out1") + "/r1"
    val out2 = tmpDir("mgr-out2") + "/r2"

    val srv = new ManagerServer(spark, port = 0).start()
    try {
      // garbage first: the reference's JSONDecodeError branch ignores it
      send(srv.boundPort, "{not json at all")
      send(srv.boundPort, jobJson(in, out1, mapSh, reduceSh))
      send(srv.boundPort, jobJson(in, out2, mapSh, reduceSh, nm = 1, nr = 1))

      assert(awaitFile(out1 + "/part-00000"), "job 0 output missing")
      assert(awaitFile(out2 + "/part-00000"), "job 1 output missing")
      val counts = Files.readAllLines(Paths.get(out1, "part-00000")).asScala ++
        Files.readAllLines(Paths.get(out1, "part-00001")).asScala
      assert(counts.map { l => val Array(k, v) = l.split("\t", 2); (k, v.toLong) }
        .toMap === Map("to" -> 2L, "be" -> 2L, "or" -> 1L, "not" -> 1L))
      assert(srv.failedJobCount === 0)

      // the reference deletes + recreates the output dir on receipt:
      // resubmitting over out1 must not fail on the existing directory
      send(srv.boundPort, jobJson(in, out1, mapSh, reduceSh))
      assert(awaitFile(out1 + "/part-00000"), "resubmitted job output missing")

      send(srv.boundPort, """{"message_type": "shutdown"}""")
      srv.awaitTermination()
      assert(srv.isShutdown)
      // the port is released: a fresh bind to it succeeds
      val probe = new java.net.ServerSocket(srv.boundPort)
      probe.close()
    } finally {
      if (!srv.isShutdown) {
        send(srv.boundPort, """{"message_type": "shutdown"}""")
        srv.awaitTermination()
      }
    }
  }

  test("concurrent clients: simultaneous submits all enqueue and run") {
    // the reference reads one connection at a time; concurrent clients
    // queue in the listen backlog — none may be dropped
    val mapSh = stageExecutable("/mr/exec/wc_map.sh")
    val reduceSh = stageExecutable("/mr/exec/wc_reduce.sh")
    val in = tmpDir("mgr-cc-in")
    Files.writeString(Paths.get(in, "a.txt"), "a b a\n")
    val outs = (0 until 4).map(i => tmpDir(s"mgr-cc-out$i") + s"/r$i")

    val srv = new ManagerServer(spark, port = 0).start()
    try {
      val threads = outs.map { out =>
        new Thread(() =>
          send(srv.boundPort, jobJson(in, out, mapSh, reduceSh, nm = 1, nr = 1)))
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      outs.foreach { out =>
        assert(awaitFile(out + "/part-00000"), s"missing output $out")
      }
      assert(srv.failedJobCount === 0)
    } finally {
      send(srv.boundPort, """{"message_type": "shutdown"}""")
      srv.awaitTermination()
    }
  }

  /** A minimal fake `mapreduce-worker`: listens on its own TCP port like
    * the reference worker's TCP_server, sends `register`, and lets the
    * test read whatever the manager connects back with (register_ack,
    * forwarded shutdown). */
  private final class FakeWorker(managerPort: Int) {
    val listener = new java.net.ServerSocket(0)
    listener.setSoTimeout(15000)
    val port: Int = listener.getLocalPort
    val received =
      new java.util.concurrent.LinkedBlockingQueue[java.util.Map[String, Object]]()
    private val om = new com.fasterxml.jackson.databind.ObjectMapper()
    private val t = new Thread(() => {
      try while (!listener.isClosed) {
        val s = listener.accept()
        try {
          val bytes = s.getInputStream.readAllBytes()
          received.put(om.readValue(new String(bytes, "UTF-8"),
            classOf[java.util.Map[String, Object]]))
        } finally s.close()
      } catch { case _: Exception => () }
    })
    t.setDaemon(true); t.start()
    def register(): Unit = send(managerPort,
      s"""{"message_type": "register", "worker_host": "localhost",
         |"worker_port": $port}""".stripMargin)
    def heartbeat(): Unit = {
      val sock = new java.net.DatagramSocket()
      try {
        val msg = (s"""{"message_type": "heartbeat", "worker_host": """ +
          s""""localhost", "worker_port": $port}""").getBytes("UTF-8")
        sock.send(new java.net.DatagramPacket(msg, msg.length,
          java.net.InetAddress.getByName("localhost"), managerPort))
      } finally sock.close()
    }
    def finished(): Unit = send(managerPort,
      s"""{"message_type": "finished", "worker_host": "localhost",
         |"worker_port": $port}""".stripMargin)
    def awaitMessage(timeoutMs: Long = 15000): java.util.Map[String, Object] =
      received.poll(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    def close(): Unit = listener.close()
  }

  private def awaitState(srv: ManagerServer, port: Int, state: String,
      timeoutMs: Long = 10000): Boolean = {
    val t0 = System.currentTimeMillis()
    while (System.currentTimeMillis() - t0 < timeoutMs) {
      if (srv.workerStates.reverse.collectFirst {
            case (_, p, s) if p == port => s
          }.contains(state)) return true
      Thread.sleep(50)
    }
    false
  }

  test("worker protocol: register -> register_ack, heartbeat keeps alive, silence kills, finished revives") {
    // short fault-tolerance intervals so the test observes the 10s/2s
    // reference behavior in ~a second (defaults stay reference-exact)
    val srv = new ManagerServer(spark, port = 0,
      heartbeatTimeoutMs = 600, faultPollMs = 100).start()
    val w = new FakeWorker(srv.boundPort)
    try {
      w.register()
      val ack = w.awaitMessage()
      assert(ack != null, "no register_ack connect-back from the manager")
      assert(ack.get("message_type") === "register_ack")
      assert(ack.get("worker_host") === "localhost")
      assert(ack.get("worker_port").toString.toInt === w.port)
      assert(awaitState(srv, w.port, "ready"))

      // heartbeats keep it alive past the timeout
      (1 to 6).foreach { _ => w.heartbeat(); Thread.sleep(200) }
      assert(srv.workerStates.exists(e => e._2 == w.port && e._3 == "ready"))

      // silence → fault-tolerance marks it dead
      assert(awaitState(srv, w.port, "dead"),
        "silent worker not marked dead")

      // finished flips the first host:port match back to ready — the
      // reference scan doesn't check state (quirk preserved)
      w.finished()
      assert(awaitState(srv, w.port, "ready"))
      assert(srv.finishedCount === 1)

      // re-registration: old live entry marked dead, fresh entry appended
      w.register()
      assert(w.awaitMessage() != null, "no ack on re-registration")
      val entries = srv.workerStates.filter(_._2 == w.port)
      assert(entries.size === 2)
      assert(entries.head._3 === "dead" && entries.last._3 === "ready")
    } finally {
      w.close()
      send(srv.boundPort, """{"message_type": "shutdown"}""")
      srv.awaitTermination()
    }
  }

  test("shutdown is forwarded to registered workers (check_shutdown)") {
    val srv = new ManagerServer(spark, port = 0).start()
    val w = new FakeWorker(srv.boundPort)
    try {
      w.register()
      assert(w.awaitMessage() != null)
      send(srv.boundPort, """{"message_type": "shutdown"}""")
      val fwd = w.awaitMessage()
      assert(fwd != null, "manager did not forward shutdown to the worker")
      assert(fwd.get("message_type") === "shutdown")
      srv.awaitTermination()
    } finally w.close()
  }

  test("register to an unreachable worker port marks the host's workers dead (connection_refused)") {
    val srv = new ManagerServer(spark, port = 0).start()
    try {
      // claim a port then close it so the manager's connect-back refuses
      val tmp = new java.net.ServerSocket(0)
      val deadPort = tmp.getLocalPort
      tmp.close()
      send(srv.boundPort,
        s"""{"message_type": "register", "worker_host": "localhost",
           |"worker_port": $deadPort}""".stripMargin)
      assert(awaitState(srv, deadPort, "dead"),
        "refused connect-back did not mark the worker dead")
    } finally {
      send(srv.boundPort, """{"message_type": "shutdown"}""")
      srv.awaitTermination()
    }
  }

  test("the REAL reference mapreduce-worker binary completes its lifecycle against this manager") {
    // the ultimate wire-protocol fidelity witness: the reference's own
    // worker process (run verbatim from the read-only reference tree)
    // must register, receive register_ack, start heartbeating, and exit
    // on the forwarded shutdown — the r13 manager absorbed `register`
    // silently, and this worker would have hung awaiting the ack.
    val refRoot = new java.io.File("/root/reference/map_reduce")
    val workerMain = new java.io.File(refRoot,
      "mapreduce/worker/__main__.py")
    val pyOk =
      try new ProcessBuilder("python3", "-c", "import click").start()
        .waitFor() == 0
      catch { case _: Exception => false }
    if (!workerMain.exists || !pyOk)
      cancel("reference worker or python3+click unavailable")
    // short death threshold so "alive past it" PROVES heartbeats flow
    // (the reference worker heartbeats every 2 s after the ack)
    val srv = new ManagerServer(spark, port = 0,
      heartbeatTimeoutMs = 5000, faultPollMs = 250).start()
    val probe = new java.net.ServerSocket(0)
    val wPort = probe.getLocalPort
    probe.close()
    val log = Files.createTempFile(
      Paths.get(tmpDir("ref-worker")), "ref-worker", ".log")
    val pb = new ProcessBuilder("python3", "-m", "mapreduce.worker",
      "--port", wPort.toString,
      "--manager-port", srv.boundPort.toString)
    pb.environment().put("PYTHONPATH", refRoot.getAbsolutePath)
    pb.redirectErrorStream(true)
    pb.redirectOutput(log.toFile)
    val proc = pb.start()
    try {
      assert(awaitState(srv, wPort, "ready", 20000),
        s"reference worker never registered; log:\n" +
          java.nio.file.Files.readString(log))
      // survive well past the death threshold: only possible if the
      // worker received register_ack and its heartbeat thread is running
      Thread.sleep(6500)
      assert(srv.workerStates.exists(e => e._2 == wPort && e._3 == "ready"),
        "worker marked dead - it never heartbeat, so it never got the ack; " +
          s"log:\n" + java.nio.file.Files.readString(log))
      // forwarded shutdown: the reference worker process must EXIT
      send(srv.boundPort, """{"message_type": "shutdown"}""")
      assert(proc.waitFor(20, java.util.concurrent.TimeUnit.SECONDS),
        "reference worker did not exit on the forwarded shutdown; log:\n" +
          java.nio.file.Files.readString(log))
      srv.awaitTermination()
    } finally {
      proc.destroyForcibly()
      if (!srv.isShutdown) {
        send(srv.boundPort, """{"message_type": "shutdown"}""")
        srv.awaitTermination()
      }
    }
  }

  test("dispatch mode: REAL reference workers run a word-count job over the wire; output byte-identical to Submit") {
    // the full reference experience end-to-end: this manager partitions
    // the job with WireDispatch, sends new_map_task/new_reduce_task to
    // two UNMODIFIED reference worker processes, drains their finished
    // messages through the phase barriers, and the workers themselves
    // write every byte of output — which must equal what the in-process
    // Spark path (Submit.run) produces for the same job.
    val refRoot = new java.io.File("/root/reference/map_reduce")
    val pyOk =
      try new ProcessBuilder("python3", "-c", "import click").start()
        .waitFor() == 0
      catch { case _: Exception => false }
    if (!new java.io.File(refRoot, "mapreduce/worker/__main__.py").exists
        || !pyOk)
      cancel("reference worker or python3+click unavailable")

    val mapSh = stageExecutable("/mr/exec/wc_map.sh")
    val reduceSh = stageExecutable("/mr/exec/wc_reduce.sh")
    val in = tmpDir("mgr-wire-in")
    // 4 files for 2 mappers: the reference worker binary crashes on an
    // empty input_paths task (all_files unbound), so keep nm <= files —
    // exactly as a reference user must
    Files.writeString(Paths.get(in, "a.txt"), "to be or not to be\n")
    Files.writeString(Paths.get(in, "b.txt"), "be the change\n")
    Files.writeString(Paths.get(in, "c.txt"), "or not or else\n")
    Files.writeString(Paths.get(in, "d.txt"), "to the lighthouse\n")
    val expectOut = tmpDir("mgr-wire-exp") + "/exp"
    Submit.run(spark, Seq("-i", in, "-o", expectOut, "-m", mapSh,
      "-r", reduceSh, "--nmappers", "2", "--nreducers", "2"))

    val out = tmpDir("mgr-wire-out") + "/got"
    // sharedDir must be same-filesystem with the python workers' /tmp
    // (see the ManagerServer param scaladoc): java.io.tmpdir here is
    // /dev/shm and a cross-device move would copy the worker's map
    // output BEFORE its buffered sorted rewrite flushed
    val srv = new ManagerServer(spark, port = 0,
      dispatchToWorkers = true, sharedDir = Some("/tmp")).start()
    val logs = Seq.fill(2)(Files.createTempFile(
      Paths.get(tmpDir("ref-worker-job")), "ref-worker-job", ".log"))
    val ports = Seq.fill(2) {
      val p = new java.net.ServerSocket(0)
      val n = p.getLocalPort; p.close(); n
    }
    val procs = ports.zip(logs).map { case (wPort, log) =>
      val pb = new ProcessBuilder("python3", "-m", "mapreduce.worker",
        "--port", wPort.toString,
        "--manager-port", srv.boundPort.toString)
      pb.environment().put("PYTHONPATH", refRoot.getAbsolutePath)
      pb.redirectErrorStream(true)
      pb.redirectOutput(log.toFile)
      pb.start()
    }
    def logsText(): String =
      logs.map(l => Files.readString(l)).mkString("\n---\n")
    try {
      ports.foreach { p =>
        assert(awaitState(srv, p, "ready", 20000),
          s"reference worker $p never registered; logs:\n" + logsText())
      }
      send(srv.boundPort, jobJson(in, out, mapSh, reduceSh, nm = 2, nr = 2))
      // both reduce parts must appear, written by the WORKERS; moves can
      // be cross-device (copy+delete), so poll until content stabilizes
      // at the expected bytes instead of racing the copy
      val expect = (0 to 1).map { i =>
        Files.readAllBytes(Paths.get(expectOut, f"part-$i%05d")).toSeq
      }
      def gotEqual: Boolean = (0 to 1).forall { i =>
        val p = Paths.get(out, f"part-$i%05d")
        Files.exists(p) && Files.readAllBytes(p).toSeq == expect(i)
      }
      val t0 = System.currentTimeMillis()
      while (!gotEqual && System.currentTimeMillis() - t0 < 90000)
        Thread.sleep(200)
      assert(gotEqual,
        "worker-written output never matched Submit's bytes; logs:\n" +
          logsText())
      assert(srv.failedJobCount === 0)
    } finally {
      send(srv.boundPort, """{"message_type": "shutdown"}""")
      procs.foreach { p =>
        if (!p.waitFor(20, java.util.concurrent.TimeUnit.SECONDS))
          p.destroyForcibly()
      }
      srv.awaitTermination()
    }
  }

  test("dispatch mode: a worker dying mid-phase gets its task re-dispatched (reference retry semantics)") {
    // FakeWorker twins: worker A accepts its map task and goes SILENT;
    // fault tolerance must queue task 0 for reassignment, and worker B
    // (registering later) must receive the SAME task_id with the SAME
    // input_paths. B then answers every dispatch with `finished`, driving
    // both phases to completion.
    val in = tmpDir("mgr-retry-in")
    Files.writeString(Paths.get(in, "a.txt"), "x y\n")
    val out = tmpDir("mgr-retry-out") + "/o"
    val srv = new ManagerServer(spark, port = 0, dispatchToWorkers = true,
      heartbeatTimeoutMs = 800, faultPollMs = 100,
      workerPollMs = 100).start()
    val a = new FakeWorker(srv.boundPort)
    val b = new FakeWorker(srv.boundPort)
    try {
      a.register()
      assert(a.awaitMessage() != null) // ack
      a.heartbeat()
      send(srv.boundPort, jobJson(in, out, "/bin/cat", "/bin/cat",
        nm = 1, nr = 1))
      val taskA = a.awaitMessage()
      assert(taskA != null && taskA.get("message_type") === "new_map_task",
        s"worker A never got the map task: $taskA")
      assert(taskA.get("task_id").toString.toInt === 0)
      // A never heartbeats again and never reports finished → dead;
      // B registers and must inherit task 0
      b.register()
      assert(b.awaitMessage() != null) // ack
      val hb = new Thread(() => while (!Thread.interrupted()) {
        b.heartbeat(); Thread.sleep(200)
      })
      hb.setDaemon(true); hb.start()
      val taskB = b.awaitMessage(20000)
      assert(taskB != null, "task 0 never re-dispatched after A died")
      assert(taskB.get("message_type") === "new_map_task")
      assert(taskB.get("task_id").toString.toInt === 0)
      assert(taskB.get("input_paths") === taskA.get("input_paths"),
        "re-dispatch must carry the same input_paths")
      b.finished() // map phase barrier opens
      val reduceB = b.awaitMessage(20000)
      assert(reduceB != null && reduceB.get("message_type") ===
        "new_reduce_task", s"reduce task not dispatched: $reduceB")
      assert(reduceB.get("output_directory") === out)
      b.finished() // reduce phase barrier opens; job completes
      Thread.sleep(1500) // ride out the reference's post-job 1 s sleep
      assert(srv.failedJobCount === 0)
      hb.interrupt()
    } finally {
      a.close(); b.close()
      send(srv.boundPort, """{"message_type": "shutdown"}""")
      srv.awaitTermination()
    }
  }

  test("strict shutdown drops queued jobs; default drain runs them (both modes pinned)") {
    import java.util.concurrent.CountDownLatch
    def stubManager(strict: Boolean): (ManagerServer, CountDownLatch,
        java.util.concurrent.atomic.AtomicInteger) = {
      val gate = new CountDownLatch(1)
      val ran = new java.util.concurrent.atomic.AtomicInteger(0)
      val srv = new ManagerServer(spark, port = 0, strictShutdown = strict,
        runner = (_, _) => { gate.await(); ran.incrementAndGet(); () }).start()
      (srv, gate, ran)
    }
    def submit3(port: Int): Unit = (1 to 3).foreach { i =>
      send(port, jobJson("/tmp/none", tmpDir(s"mgr-ss-$i") + "/o",
        "/bin/cat", "/bin/cat", 1, 1))
    }
    // STRICT: first job is in flight (blocked on the gate), two queued;
    // shutdown + gate release → only the in-flight job completes, the
    // queued two are dropped (reference run-loop semantics)
    def awaitShutdownFlag(s: ManagerServer): Unit = {
      val t0 = System.currentTimeMillis()
      while (!s.isShutdown && System.currentTimeMillis() - t0 < 10000)
        Thread.sleep(20)
      assert(s.isShutdown, "manager never processed the shutdown message")
    }
    val (s1, g1, r1) = stubManager(strict = true)
    submit3(s1.boundPort)
    Thread.sleep(500) // let the runner dequeue job 0 and block
    send(s1.boundPort, """{"message_type": "shutdown"}""")
    awaitShutdownFlag(s1) // the gate must open only AFTER the flag is set
    g1.countDown()
    s1.awaitTermination()
    assert(r1.get() === 1, s"strict mode ran ${r1.get()} jobs, want 1")
    assert(s1.droppedJobCount === 2)
    // DRAIN (default): same sequence → all three jobs complete
    val (s2, g2, r2) = stubManager(strict = false)
    submit3(s2.boundPort)
    Thread.sleep(500)
    send(s2.boundPort, """{"message_type": "shutdown"}""")
    awaitShutdownFlag(s2)
    g2.countDown()
    s2.awaitTermination()
    assert(r2.get() === 3, s"drain mode ran ${r2.get()} jobs, want 3")
    assert(s2.droppedJobCount === 0)
  }

  test("a failed job does not stop the queue (reference FIFO rule)") {
    val mapSh = stageExecutable("/mr/exec/wc_map.sh")
    val reduceSh = stageExecutable("/mr/exec/wc_reduce.sh")
    val in = tmpDir("mgr-in2")
    Files.writeString(Paths.get(in, "a.txt"), "x y x\n")
    val out = tmpDir("mgr-out3") + "/ok"

    val srv = new ManagerServer(spark, port = 0).start()
    try {
      // nonexistent mapper → the job throws inside the runner
      send(srv.boundPort, jobJson(in, tmpDir("mgr-bad") + "/bad",
        "/nonexistent/mapper.sh", reduceSh))
      send(srv.boundPort, jobJson(in, out, mapSh, reduceSh, nm = 1, nr = 1))
      assert(awaitFile(out + "/part-00000"), "job after failure missing")
      assert(srv.failedJobCount === 1)
    } finally {
      send(srv.boundPort, """{"message_type": "shutdown"}""")
      srv.awaitTermination()
    }
  }

  test("cross-device --shared-dir is warned about at startup (open-file move trap)") {
    // crafted cross-device arrangement: /dev/shm (tmpfs) vs / (disk) —
    // the exact pairing that silently lost map sorts in the r15 drill
    val shm = Paths.get("/dev/shm")
    val disk = Paths.get("/var/tmp")
    assume(Files.isWritable(shm) && Files.isDirectory(disk) &&
      Files.getFileStore(shm) != Files.getFileStore(disk))
    val w = ManagerServer.crossDeviceWarning(shm.toString, disk.toString)
    assert(w.isDefined, "cross-device shared dir must warn")
    assert(w.get.contains("cross-device"), w.get)
    // same filesystem: silent
    assert(ManagerServer
      .crossDeviceWarning(shm.toString, shm.toString).isEmpty)
    // and the constructor surfaces it only in dispatch mode with a
    // shared dir (Spark mode never moves worker map output)
    val sharedTmp = System.getProperty("java.io.tmpdir")
    val other =
      if (Files.getFileStore(Paths.get(sharedTmp)) == Files.getFileStore(disk))
        shm.toString
      else disk.toString
    val srv = new ManagerServer(spark, port = 0,
      dispatchToWorkers = true, sharedDir = Some(other))
    try assert(srv.sharedDirWarning.isDefined)
    finally { send(srv.start().boundPort, """{"message_type": "shutdown"}""")
      srv.awaitTermination() }
    val srv2 = new ManagerServer(spark, port = 0, sharedDir = Some(other))
    try assert(srv2.sharedDirWarning.isEmpty)
    finally { send(srv2.start().boundPort, """{"message_type": "shutdown"}""")
      srv2.awaitTermination() }
  }
}
