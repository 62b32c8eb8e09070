package graft.mr

import java.nio.file.{Files, Paths}
import graft.SparkSpec

/** [[WorkerClient]] — the worker side of the reference wire protocol.
  * The headline tests boot the UNMODIFIED reference manager binary
  * (`python3 -m mapreduce.manager` from the read-only snapshot) and
  * prove two WorkerClients serve under it: full word-count job with
  * output byte-identical to [[Submit.run]], and a mid-map kill driving
  * the reference's own fault-tolerance re-dispatch onto the surviving
  * client. Sort/merge fidelity is cross-pinned against CPython itself. */
class WorkerClientSpec extends SparkSpec {

  private def send(port: Int, json: String): Unit = {
    val s = new java.net.Socket("localhost", port)
    try {
      s.getOutputStream.write(json.getBytes("UTF-8"))
      s.getOutputStream.flush()
    } finally s.close()
  }

  private val refRoot = new java.io.File("/root/reference/map_reduce")
  private def pyOk: Boolean =
    try new ProcessBuilder("python3", "-c", "import click").start()
      .waitFor() == 0
    catch { case _: Exception => false }

  private def bootRefManager(port: Int): (Process, java.nio.file.Path) = {
    val log = Files.createTempFile(
      Paths.get(tmpDir("ref-manager")), "ref-manager", ".log")
    val pb = new ProcessBuilder("python3", "-m", "mapreduce.manager",
      "--port", port.toString)
    pb.environment().put("PYTHONPATH", refRoot.getAbsolutePath)
    pb.redirectErrorStream(true)
    pb.redirectOutput(log.toFile)
    (pb.start(), log)
  }

  private def freePort(): Int = {
    val s = new java.net.ServerSocket(0)
    try s.getLocalPort finally s.close()
  }

  // tricky cases: tab (9) vs newline (10) adjacency, tab-less lines
  // whose key keeps the newline, supplementary-plane chars that Java's
  // UTF-16 compareTo misorders against BMP chars in [E000, FFFF]
  private val trickyLines = Seq("a\tx", "a", "ab\t1", "a\t1", "😀\t1",
    "�\t2", "b", "b\tz", "aa", "a\t\t2", "zz\t0", "")

  test("code-point line order and key rule match CPython exactly (cross-pinned)") {
    assume(pyOk)
    val lines = trickyLines
    val py = new ProcessBuilder("python3", "-c",
      """import sys, json, hashlib
        |lines = [l + "\n" for l in json.load(sys.stdin)]
        |lines.sort()
        |keys = [l.split("\t")[0] for l in lines]
        |parts = [int(hashlib.md5(k.encode()).hexdigest(), 16) % 7 for k in keys]
        |json.dump({"sorted": lines, "parts": parts}, sys.stdout)
        |""".stripMargin).start()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    py.getOutputStream.write(mapper.writeValueAsBytes(
      java.util.List.copyOf(scala.jdk.CollectionConverters
        .SeqHasAsJava(lines).asJava)))
    py.getOutputStream.close()
    val out = mapper.readValue(py.getInputStream,
      classOf[java.util.Map[String, Object]])
    assert(py.waitFor() == 0)
    import scala.jdk.CollectionConverters._
    val pySorted = out.get("sorted").asInstanceOf[java.util.List[Object]]
      .asScala.map(_.toString).toSeq
    val pyParts = out.get("parts").asInstanceOf[java.util.List[Object]]
      .asScala.map(_.toString.toInt).toSeq
    val mine = lines.map(_ + "\n").toArray
    java.util.Arrays.sort(mine, MapReduceJob.CodePointOrder)
    assert(mine.toSeq === pySorted, "sort order diverges from CPython")
    // unterminated lines sort as if newline-terminated
    assert(lines.sorted(MapReduceJob.CodePointOrder) ===
      pySorted.map(_.stripSuffix("\n")))
    val myParts = pySorted.map(l =>
      Md5Partitioner.partition(MapReduceJob.partitionKey(l.stripSuffix("\n")), 7))
    assert(myParts === pyParts, "md5 key partition diverges from CPython")
  }

  test("two WorkerClients serve a word-count job under the REAL reference manager; output byte-identical to Submit") {
    assume(pyOk && new java.io.File(refRoot,
      "mapreduce/manager/__main__.py").exists)
    val mapSh = stageExecutable("/mr/exec/wc_map.sh")
    val reduceSh = stageExecutable("/mr/exec/wc_reduce.sh")
    val in = tmpDir("wkr-in")
    Files.writeString(Paths.get(in, "a.txt"), "to be or not to be\n")
    Files.writeString(Paths.get(in, "b.txt"), "be the change\n")
    Files.writeString(Paths.get(in, "c.txt"), "or not or else\n")
    Files.writeString(Paths.get(in, "d.txt"), "to the lighthouse\n")
    val expectOut = tmpDir("wkr-exp") + "/exp"
    Submit.run(spark, Seq("-i", in, "-o", expectOut, "-m", mapSh,
      "-r", reduceSh, "--nmappers", "2", "--nreducers", "2"))
    val out = tmpDir("wkr-out") + "/got"
    Files.createDirectories(Paths.get(out))

    val mPort = freePort()
    val (mgr, log) = bootRefManager(mPort)
    val ws = Seq.fill(2)(
      new WorkerClient(port = 0, managerPort = mPort).start())
    try {
      // ack received == heartbeats flowing (the reference manager sent
      // register_ack back over our TCP server)
      val t0 = System.currentTimeMillis()
      while (!ws.forall(_.heartbeating) &&
        System.currentTimeMillis() - t0 < 20000) Thread.sleep(100)
      assert(ws.forall(_.heartbeating),
        "workers never got register_ack; manager log:\n" +
          Files.readString(log))
      send(mPort, s"""{"message_type": "new_manager_job",
        "input_directory": "$in", "output_directory": "$out",
        "mapper_executable": "$mapSh", "reducer_executable": "$reduceSh",
        "num_mappers": 2, "num_reducers": 2}""")
      val expect = (0 to 1).map { i =>
        Files.readAllBytes(Paths.get(expectOut, f"part-$i%05d")).toSeq
      }
      def gotEqual: Boolean = (0 to 1).forall { i =>
        val p = Paths.get(out, f"part-$i%05d")
        Files.exists(p) && Files.readAllBytes(p).toSeq == expect(i)
      }
      val t1 = System.currentTimeMillis()
      while (!gotEqual && System.currentTimeMillis() - t1 < 90000)
        Thread.sleep(200)
      assert(gotEqual,
        "WorkerClient output never matched Submit's bytes; manager log:\n" +
          Files.readString(log))
    } finally {
      try send(mPort, """{"message_type": "shutdown"}""")
      catch { case _: Exception => () }
      // the manager forwards shutdown to the workers: both must exit
      val t2 = System.currentTimeMillis()
      while (!ws.forall(_.isShutdown) &&
        System.currentTimeMillis() - t2 < 15000) Thread.sleep(100)
      assert(ws.forall(_.isShutdown),
        "forwarded shutdown never reached the WorkerClients")
      if (!mgr.waitFor(15, java.util.concurrent.TimeUnit.SECONDS))
        mgr.destroyForcibly()
    }
  }

  test("mid-map kill: the reference manager re-dispatches the task to the surviving WorkerClient") {
    assume(pyOk && new java.io.File(refRoot,
      "mapreduce/manager/__main__.py").exists)
    // nm = 1 and an IDLE second worker: the reference's retry scan finds
    // a ready worker immediately (its stale-found_worker path, which
    // misroutes when every worker is busy, never triggers)
    val mapSlow = {
      val f = Paths.get(tmpDir("wc-slow"), "wc-slow-map.sh")
      Files.writeString(f,
        "#!/bin/sh\nsleep 4\ntr -s ' \\t' '\\n\\n' | grep -v '^$' | " +
          "sed 's/$/\\t1/'\n")
      f.toFile.setExecutable(true)
      f.toString
    }
    val reduceSh = stageExecutable("/mr/exec/wc_reduce.sh")
    val in = tmpDir("wkr-kill-in")
    Files.writeString(Paths.get(in, "a.txt"), "tick tock tick\n")
    val out = tmpDir("wkr-kill-out") + "/got"
    Files.createDirectories(Paths.get(out))

    val mPort = freePort()
    val (mgr, log) = bootRefManager(mPort)
    // register A first: the manager's ready-scan is registration-ordered,
    // so A gets map task 0 while B idles
    val a = new WorkerClient(port = 0, managerPort = mPort).start()
    Thread.sleep(500)
    val b = new WorkerClient(port = 0, managerPort = mPort).start()
    try {
      val t0 = System.currentTimeMillis()
      while (!(a.heartbeating && b.heartbeating) &&
        System.currentTimeMillis() - t0 < 20000) Thread.sleep(100)
      assert(a.heartbeating && b.heartbeating,
        "registration failed; manager log:\n" + Files.readString(log))
      send(mPort, s"""{"message_type": "new_manager_job",
        "input_directory": "$in", "output_directory": "$out",
        "mapper_executable": "$mapSlow", "reducer_executable": "$reduceSh",
        "num_mappers": 1, "num_reducers": 1}""")
      // wait until A holds the map task, then kill it mid-executable
      val t1 = System.currentTimeMillis()
      while (a.receivedTasks < 1 &&
        System.currentTimeMillis() - t1 < 30000) Thread.sleep(50)
      assert(a.receivedTasks >= 1, "A never received the map task; log:\n" +
        Files.readString(log))
      Thread.sleep(300) // let the slow mapper actually start
      a.kill()
      assert(a.completedTasks === 0, "kill was not mid-task")
      // the manager must mark A dead (>10 s silence) and re-dispatch the
      // SAME task to B, which completes map + reduce
      val p = Paths.get(out, "part-00000")
      val t2 = System.currentTimeMillis()
      while (!Files.exists(p) &&
        System.currentTimeMillis() - t2 < 120000) Thread.sleep(250)
      assert(Files.exists(p),
        "job never completed after the kill; manager log:\n" +
          Files.readString(log))
      // byte-exact content despite the retry (tick 2, tock 1)
      val t3 = System.currentTimeMillis()
      while (Files.readString(p) != "tick\t2\ntock\t1\n" &&
        System.currentTimeMillis() - t3 < 10000) Thread.sleep(100)
      assert(Files.readString(p) === "tick\t2\ntock\t1\n")
      assert(b.completedTasks >= 2, "B did not run both re-dispatched tasks")
    } finally {
      try send(mPort, """{"message_type": "shutdown"}""")
      catch { case _: Exception => () }
      if (!mgr.waitFor(15, java.util.concurrent.TimeUnit.SECONDS))
        mgr.destroyForcibly()
      a.kill(); b.kill()
    }
  }

  test("MIXED fleet: a reference python worker and a WorkerClient serve side by side under the reference manager") {
    // the strongest interop witness there is: the unmodified reference
    // manager drives a heterogeneous fleet — its own worker binary on
    // one port, the rebuild's WorkerClient on another — through a
    // 2-mapper/2-reducer word count, and the merged output is
    // byte-identical to Submit.run. Every wire message, file format,
    // sort order, and shared-dir convention has to line up across
    // implementations for this to hold.
    assume(pyOk && new java.io.File(refRoot,
      "mapreduce/manager/__main__.py").exists)
    val mapSh = stageExecutable("/mr/exec/wc_map.sh")
    val reduceSh = stageExecutable("/mr/exec/wc_reduce.sh")
    val in = tmpDir("wkr-mix-in")
    Files.writeString(Paths.get(in, "a.txt"), "to be or not to be\n")
    Files.writeString(Paths.get(in, "b.txt"), "be the change\n")
    Files.writeString(Paths.get(in, "c.txt"), "or not or else\n")
    Files.writeString(Paths.get(in, "d.txt"), "to the lighthouse\n")
    val expectOut = tmpDir("wkr-mix-exp") + "/exp"
    Submit.run(spark, Seq("-i", in, "-o", expectOut, "-m", mapSh,
      "-r", reduceSh, "--nmappers", "2", "--nreducers", "2"))
    val out = tmpDir("wkr-mix-out") + "/got"
    Files.createDirectories(Paths.get(out))

    val mPort = freePort()
    val (mgr, log) = bootRefManager(mPort)
    // reference python worker first (it gets task 0)
    val refPort = freePort()
    val refLog = Files.createTempFile(
      Paths.get(tmpDir("ref-worker-mix")), "ref-worker-mix", ".log")
    val pb = new ProcessBuilder("python3", "-m", "mapreduce.worker",
      "--port", refPort.toString, "--manager-port", mPort.toString)
    pb.environment().put("PYTHONPATH", refRoot.getAbsolutePath)
    pb.redirectErrorStream(true)
    pb.redirectOutput(refLog.toFile)
    val refProc = pb.start()
    Thread.sleep(1500) // let the python worker register first
    val mine = new WorkerClient(port = 0, managerPort = mPort).start()
    try {
      val t0 = System.currentTimeMillis()
      while (!mine.heartbeating &&
        System.currentTimeMillis() - t0 < 20000) Thread.sleep(100)
      assert(mine.heartbeating, "WorkerClient never got register_ack; " +
        "manager log:\n" + Files.readString(log))
      send(mPort, s"""{"message_type": "new_manager_job",
        "input_directory": "$in", "output_directory": "$out",
        "mapper_executable": "$mapSh", "reducer_executable": "$reduceSh",
        "num_mappers": 2, "num_reducers": 2}""")
      val expect = (0 to 1).map { i =>
        Files.readAllBytes(Paths.get(expectOut, f"part-$i%05d")).toSeq
      }
      def gotEqual: Boolean = (0 to 1).forall { i =>
        val p = Paths.get(out, f"part-$i%05d")
        Files.exists(p) && Files.readAllBytes(p).toSeq == expect(i)
      }
      val t1 = System.currentTimeMillis()
      while (!gotEqual && System.currentTimeMillis() - t1 < 90000)
        Thread.sleep(200)
      assert(gotEqual,
        "mixed-fleet output never matched Submit's bytes; manager log:\n" +
          Files.readString(log) + "\nref worker log:\n" +
          Files.readString(refLog))
      // the WorkerClient actually participated (one map + one reduce
      // went to the second registrant)
      assert(mine.completedTasks >= 1,
        "the WorkerClient was never dispatched a task")
    } finally {
      try send(mPort, """{"message_type": "shutdown"}""")
      catch { case _: Exception => () }
      if (!refProc.waitFor(15, java.util.concurrent.TimeUnit.SECONDS))
        refProc.destroyForcibly()
      if (!mgr.waitFor(15, java.util.concurrent.TimeUnit.SECONDS))
        mgr.destroyForcibly()
      mine.kill()
    }
  }

  test("bidirectional drop-in: our manager dispatches to our WorkerClients, byte-identical to Submit") {
    val mapSh = stageExecutable("/mr/exec/wc_map.sh")
    val reduceSh = stageExecutable("/mr/exec/wc_reduce.sh")
    val in = tmpDir("wkr-own-in")
    Files.writeString(Paths.get(in, "a.txt"), "alpha beta alpha\n")
    Files.writeString(Paths.get(in, "b.txt"), "beta gamma\n")
    Files.writeString(Paths.get(in, "c.txt"), "gamma alpha delta\n")
    val expectOut = tmpDir("wkr-own-exp") + "/exp"
    Submit.run(spark, Seq("-i", in, "-o", expectOut, "-m", mapSh,
      "-r", reduceSh, "--nmappers", "3", "--nreducers", "2"))
    val out = tmpDir("wkr-own-out") + "/got"
    val srv = new ManagerServer(spark, port = 0,
      dispatchToWorkers = true,
      sharedDir = Some(System.getProperty("java.io.tmpdir"))).start()
    val ws = Seq.fill(2)(
      new WorkerClient(port = 0, managerPort = srv.boundPort).start())
    try {
      val t0 = System.currentTimeMillis()
      while (!ws.forall(_.heartbeating) &&
        System.currentTimeMillis() - t0 < 20000) Thread.sleep(100)
      assert(ws.forall(_.heartbeating))
      send(srv.boundPort, s"""{"message_type": "new_manager_job",
        "input_directory": "$in", "output_directory": "$out",
        "mapper_executable": "$mapSh", "reducer_executable": "$reduceSh",
        "num_mappers": 3, "num_reducers": 2}""")
      val expect = (0 to 1).map { i =>
        Files.readAllBytes(Paths.get(expectOut, f"part-$i%05d")).toSeq
      }
      def gotEqual: Boolean = (0 to 1).forall { i =>
        val p = Paths.get(out, f"part-$i%05d")
        Files.exists(p) && Files.readAllBytes(p).toSeq == expect(i)
      }
      val t1 = System.currentTimeMillis()
      while (!gotEqual && System.currentTimeMillis() - t1 < 60000)
        Thread.sleep(200)
      assert(gotEqual, "own-manager + own-worker output mismatch")
    } finally {
      send(srv.boundPort, """{"message_type": "shutdown"}""")
      srv.awaitTermination()
      val t2 = System.currentTimeMillis()
      while (!ws.forall(_.isShutdown) &&
        System.currentTimeMillis() - t2 < 15000) Thread.sleep(100)
      assert(ws.forall(_.isShutdown),
        "our manager's forwarded shutdown never reached the workers")
    }
  }

  test("code-point order: Submit.run, native run and dispatch mode write byte-identical parts for the tricky lines") {
    // tab-less lines included: every mode keys them with their newline
    // (MapReduceJob.partitionKey) and sorts `a\tx` before `a`
    val lines = trickyLines
    val in = tmpDir("wkr-cp-in")
    Files.writeString(Paths.get(in, "a.txt"),
      lines.take(4).mkString("", "\n", "\n"))
    Files.writeString(Paths.get(in, "b.txt"),
      lines.drop(4).mkString("", "\n", "\n"))
    val out = tmpDir("wkr-cp-out")
    val identity: MapReduceJob.Stage = l => l
    val srv = new ManagerServer(spark, port = 0,
      dispatchToWorkers = true,
      sharedDir = Some(System.getProperty("java.io.tmpdir"))).start()
    val ws = Seq.fill(2)(
      new WorkerClient(port = 0, managerPort = srv.boundPort).start())
    def parts(dir: String, r: Int): Seq[String] = (0 until r).map(i =>
      Files.readString(Paths.get(dir, f"part-$i%05d")))
    try {
      val t0 = System.currentTimeMillis()
      while (!ws.forall(_.heartbeating) &&
        System.currentTimeMillis() - t0 < 20000) Thread.sleep(100)
      assert(ws.forall(_.heartbeating))
      for (r <- Seq(1, 3)) {
        Submit.run(spark, Seq("-i", in, "-o", s"$out/submit-$r",
          "-m", "/bin/cat", "-r", "/bin/cat", "--nreducers", r.toString))
        MapReduceJob(in, s"$out/native-$r", identity, identity, r)
          .run(spark, exactPartNames = true)
        val wire = s"$out/wire-$r"
        send(srv.boundPort, s"""{"message_type": "new_manager_job",
          "input_directory": "$in", "output_directory": "$wire",
          "mapper_executable": "/bin/cat", "reducer_executable": "/bin/cat",
          "num_mappers": 2, "num_reducers": $r}""")
        val t1 = System.currentTimeMillis()
        while ((0 until r).exists(i =>
            !Files.exists(Paths.get(wire, f"part-$i%05d"))) &&
          System.currentTimeMillis() - t1 < 60000) Thread.sleep(200)
        val expect = parts(s"$out/submit-$r", r)
        assert(expect.mkString.linesIterator.toSeq.sorted === lines.sorted)
        assert(parts(s"$out/native-$r", r) === expect, s"native, R = $r")
        assert(parts(wire, r) === expect, s"dispatch mode, R = $r")
      }
      // one partition holds every line: U+FFFD sorts before U+1F600,
      // and a tab-extended line before its tab-less prefix
      val one = parts(s"$out/submit-1", 1).head
      assert(one.indexOf("�\t2") < one.indexOf("😀\t1"))
      assert(one.indexOf("a\tx\n") < one.indexOf("\na\n"))
    } finally {
      send(srv.boundPort, """{"message_type": "shutdown"}""")
      srv.awaitTermination()
      val t2 = System.currentTimeMillis()
      while (!ws.forall(_.isShutdown) &&
        System.currentTimeMillis() - t2 < 15000) Thread.sleep(100)
    }
  }

  test("own manager, own workers: a worker killed mid-map hands its task_id to the survivor; output byte-identical to Submit") {
    val mapSh = stageExecutable("/mr/exec/wc_map.sh")
    val reduceSh = stageExecutable("/mr/exec/wc_reduce.sh")
    // the same map output as wc_map.sh, late enough to kill mid-task
    val mapSlow = {
      val f = Paths.get(tmpDir("wc-slow"), "wc-slow-map.sh")
      Files.writeString(f, s"#!/bin/sh\nsleep 3\nexec /bin/sh $mapSh\n")
      f.toFile.setExecutable(true)
      f.toString
    }
    val in = tmpDir("wkr-own-kill-in")
    Files.writeString(Paths.get(in, "f1.txt"),
      "the quick brown fox\nthe lazy dog\n")
    Files.writeString(Paths.get(in, "f2.txt"), "the dog barks\nquick quick fox\n")
    Files.writeString(Paths.get(in, "f3.txt"), "lazy lazy lazy\n")
    val expectOut = tmpDir("wkr-own-kill-exp") + "/exp"
    Submit.run(spark, Seq("-i", in, "-o", expectOut, "-m", mapSh,
      "-r", reduceSh, "--nmappers", "2", "--nreducers", "2"))
    val out = tmpDir("wkr-own-kill-out") + "/got"
    // workers heartbeat every 200 ms; 1.5 s of silence is death
    val srv = new ManagerServer(spark, port = 0, dispatchToWorkers = true,
      heartbeatTimeoutMs = 1500, faultPollMs = 100, workerPollMs = 100,
      sharedDir = Some(System.getProperty("java.io.tmpdir"))).start()
    val ws = Seq.fill(2)(new WorkerClient(port = 0,
      managerPort = srv.boundPort, heartbeatMs = 200).start())
    try {
      val t0 = System.currentTimeMillis()
      while (!ws.forall(_.heartbeating) &&
        System.currentTimeMillis() - t0 < 20000) Thread.sleep(100)
      assert(ws.forall(_.heartbeating))
      send(srv.boundPort, s"""{"message_type": "new_manager_job",
        "input_directory": "$in", "output_directory": "$out",
        "mapper_executable": "$mapSlow", "reducer_executable": "$reduceSh",
        "num_mappers": 2, "num_reducers": 2}""")
      // both workers get one map task each; kill one mid-executable
      val t1 = System.currentTimeMillis()
      while (!ws.forall(_.receivedTasks >= 1) &&
        System.currentTimeMillis() - t1 < 20000) Thread.sleep(50)
      assert(ws.forall(_.receivedTasks >= 1), "map tasks never dispatched")
      val Seq(victim, survivor) = ws
      val killedTask = victim.receivedTaskLog.head
      assert(killedTask._1 === "new_map_task")
      Thread.sleep(300) // let the slow mapper start
      victim.kill()
      assert(victim.completedTasks === 0, "kill was not mid-task")
      val expect = (0 to 1).map { i =>
        Files.readAllBytes(Paths.get(expectOut, f"part-$i%05d")).toSeq
      }
      def gotEqual: Boolean = (0 to 1).forall { i =>
        val p = Paths.get(out, f"part-$i%05d")
        Files.exists(p) && Files.readAllBytes(p).toSeq == expect(i)
      }
      val t2 = System.currentTimeMillis()
      while (!gotEqual && System.currentTimeMillis() - t2 < 60000)
        Thread.sleep(200)
      assert(gotEqual, "output after the re-dispatch differs from Submit's")
      // the survivor inherited the SAME map task_id, then ran both reduces
      val survivorMaps = survivor.receivedTaskLog.filter(_._1 == "new_map_task")
      assert(survivorMaps.size === 2, survivor.receivedTaskLog)
      assert(survivorMaps.last === killedTask, survivor.receivedTaskLog)
      assert(srv.workerStates.map(_._3).count(_ == "dead") === 1)
      assert(srv.failedJobCount === 0)
    } finally {
      send(srv.boundPort, """{"message_type": "shutdown"}""")
      srv.awaitTermination()
      ws.foreach(_.kill())
    }
  }
}
