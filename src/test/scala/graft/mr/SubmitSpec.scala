package graft.mr

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.SparkSpec

/** E2E of the `mapreduce-submit`-style CLI facade (reference
  * map_reduce/mapreduce/submit.py:20-98) and the byte-compat
  * `part-{i:05d}` output-naming option. */
class SubmitSpec extends SparkSpec {

  private def listNames(dir: String): Set[String] =
    Files.list(Paths.get(dir)).iterator.asScala
      .map(_.getFileName.toString).toSet

  private def readAll(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).iterator.asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .flatMap(p => Files.readAllLines(p).asScala)
      .toSeq

  test("Submit.run drives the executable word count end-to-end") {
    val in = tmpDir("submit-in")
    Files.writeString(Paths.get(in, "a.txt"), "to be or not to be\n")
    Files.writeString(Paths.get(in, "b.txt"), "be or be\n")
    val out = tmpDir("submit-out") + "/result"
    val mapSh = stageExecutable("/mr/exec/wc_map.sh")
    val reduceSh = stageExecutable("/mr/exec/wc_reduce.sh")

    Submit.run(spark, Seq(
      "-i", in, "-o", out, "-m", mapSh, "-r", reduceSh,
      "--nmappers", "2", "--nreducers", "3"))

    val counts = readAll(out).map { l =>
      val Array(k, v) = l.split("\t", 2); (k, v.toLong)
    }.toMap
    assert(counts === Map("to" -> 2L, "be" -> 4L, "or" -> 2L, "not" -> 1L))
    // exact-naming mode: only part-{i:05d} files, no _SUCCESS marker
    assert(listNames(out) === Set("part-00000", "part-00001", "part-00002"))
  }

  test("Submit honors a non-shell mapper's shebang (direct exec, no sh wrapper)") {
    val in = tmpDir("submit-py-in")
    Files.writeString(Paths.get(in, "a.txt"), "x y x\n")
    val out = tmpDir("submit-py-out") + "/result"
    // a python mapper would be misparsed by a /bin/sh wrapper
    val pyMap = Paths.get(tmpDir("submit-py"), "map.py")
    Files.writeString(pyMap,
      """#!/usr/bin/env python3
        |import sys
        |for line in sys.stdin:
        |    for w in line.split():
        |        print(f"{w}\t1")
        |""".stripMargin)
    assert(pyMap.toFile.setExecutable(true))
    val reduceSh = stageExecutable("/mr/exec/wc_reduce.sh")
    Submit.run(spark, Seq("-i", in, "-o", out,
      "-m", pyMap.toString, "-r", reduceSh, "--nreducers", "2"))
    val counts = readAll(out).map { l =>
      val Array(k, v) = l.split("\t", 2); (k, v.toLong)
    }.toMap
    assert(counts === Map("x" -> 2L, "y" -> 1L))
  }

  test("Submit rejects unknown options") {
    intercept[IllegalArgumentException] {
      Submit.run(spark, Seq("--bogus", "x"))
    }
  }

  test("--then queues multiple jobs FIFO, one at a time, in submission order") {
    val in = tmpDir("queue-in")
    Files.writeString(Paths.get(in, "a.txt"), "x y x\n")
    val out1 = tmpDir("queue-out1") + "/r1"
    val out2 = tmpDir("queue-out2") + "/r2"
    val mapSh = stageExecutable("/mr/exec/wc_map.sh")
    val reduceSh = stageExecutable("/mr/exec/wc_reduce.sh")
    val job = Seq("-i", in, "-m", mapSh, "-r", reduceSh, "--nreducers", "1")
    val log = new java.io.ByteArrayOutputStream()
    val code = Console.withOut(log) {
      Submit.runQueueCli(spark,
        (job ++ Seq("-o", out1)) ++ Seq("--then") ++ (job ++ Seq("-o", out2)))
    }
    assert(code === 0)
    // FIFO: submission order preserved, one job's summary after another
    val lines = log.toString("UTF-8").linesIterator.toSeq
    assert(lines.filter(_.startsWith("running job")) ===
      Seq("running job 0", "running job 1"))
    val outs = lines.filter(_.startsWith("output directory"))
      .map(_.stripPrefix("output directory").trim)
    assert(outs === Seq(out1, out2))
    Seq(out1, out2).foreach { o =>
      val counts = readAll(o).map { l =>
        val Array(k, v) = l.split("\t", 2); (k, v.toLong)
      }.toMap
      assert(counts === Map("x" -> 2L, "y" -> 1L))
    }
  }

  test("lifecycle subcommands mirror the reference launcher's exit semantics") {
    // reference bin/mapreduce:53-65: status exits 0 iff the fleet is up;
    // here the fleet is the live SparkContext. stop/restart actually
    // kill the context, so they get the forked-JVM test below — calling
    // them here would take the shared session down with them.
    assert(Submit.lifecycle(spark, "status") === 0)
    assert(Submit.lifecycle(spark, "start") === 0)
    assert(Submit.lifecycle(spark, "bogus") === 1)
  }

  /** Runs `graft.mr.Submit <args>` in its own JVM (the test JVM is forked,
    * so java.class.path is the full test classpath) — the only way to
    * witness the stop/restart kill semantics without destroying the
    * suite's shared SparkContext. */
  private def submitInFreshJvm(args: String*): (Int, String) = {
    val java = Paths.get(sys.props("java.home"), "bin", "java").toString
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar",
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = Seq(java) ++ addOpens ++ Seq("-Xmx1g",
      "-Dspark.ui.enabled=false", "-cp", sys.props("java.class.path"),
      "graft.mr.Submit") ++ args
    val out = new StringBuilder
    val logger = scala.sys.process.ProcessLogger(
      l => out.synchronized { out.append(l).append('\n') },
      l => out.synchronized { out.append(l).append('\n') })
    val rc = scala.sys.process.Process(cmd, None, "SPARK_GRAFT_CPUS" -> "2")
      .run(logger).exitValue()
    (rc, out.toString)
  }

  test("stop kills the in-JVM fleet with the launcher's lines and exit 0 (forked JVM)") {
    // reference bin/mapreduce:28-52: shutdown message + pkill, exit 0
    val (rc, out) = submitInFreshJvm("stop")
    assert(rc === 0, out.takeRight(2000))
    assert(out.contains("killing mapreduce manager ..."))
    assert(out.contains("killing mapreduce worker ..."))
  }

  test("restart is stop-then-relaunch: kill lines then a running manager (forked JVM)") {
    // reference bin/mapreduce:67-103: the stop block then the start block
    val (rc, out) = submitInFreshJvm("restart")
    assert(rc === 0, out.takeRight(2000))
    assert(out.contains("killing mapreduce manager ..."))
    val killAt = out.indexOf("killing mapreduce manager ...")
    val upAt = out.indexOf("manager running")
    assert(upAt > killAt, out.takeRight(2000)) // relaunch AFTER the kill
    assert(out.contains("workers running"))
  }

  test("exactPartNames pins part-{i:05d} for R=3 on the native job") {
    val in = tmpDir("exact-in")
    Files.writeString(Paths.get(in, "f.txt"), "a b c d e f\n")
    val out = tmpDir("exact-out") + "/result"
    WordCount.job(in, out, numReducers = 3).run(spark, exactPartNames = true)
    assert(listNames(out) === Set("part-00000", "part-00001", "part-00002"))
    // default mode keeps Hadoop's _SUCCESS marker alongside the parts
    val out2 = tmpDir("exact-out2") + "/result"
    WordCount.job(in, out2, numReducers = 3).run(spark)
    assert(listNames(out2).contains("_SUCCESS"))
  }

  test("--then with an empty job group is rejected up front") {
    val e = intercept[IllegalArgumentException](
      Submit.runQueueCli(spark, Seq("--then")))
    assert(e.getMessage.contains("empty job group"))
    intercept[IllegalArgumentException](
      Submit.runQueueCli(spark, Seq("-i", "x", "--then")))
    intercept[IllegalArgumentException](
      Submit.runQueueCli(spark, Seq("--then", "-i", "x")))
  }

  test("queue CLI exits nonzero on a failed job but still runs later jobs") {
    val in = tmpDir("queue-in")
    Files.writeString(Paths.get(in, "a.txt"), "x y x\n")
    val out1 = tmpDir("queue-out1") + "/r"
    val out2 = tmpDir("queue-out2") + "/r"
    val mapSh = stageExecutable("/mr/exec/wc_map.sh")
    val reduceSh = stageExecutable("/mr/exec/wc_reduce.sh")
    val bad = Seq("-i", "/graft-no-such-input-dir", "-o", out1,
      "-m", mapSh, "-r", reduceSh, "--nreducers", "1")
    val good = Seq("-i", in, "-o", out2,
      "-m", mapSh, "-r", reduceSh, "--nreducers", "1")
    val code = Submit.runQueueCli(spark, bad ++ Seq("--then") ++ good)
    assert(code === 1)
    // the failed job didn't stop the FIFO: job 1 completed normally
    val counts = readAll(out2).map { l =>
      val Array(k, v) = l.split("\t", 2); (k, v.toLong)
    }.toMap
    assert(counts === Map("x" -> 2L, "y" -> 1L))
  }

  test("an explicit execDir override never falls back to the repo fixtures") {
    val empty = tmpDir("exec-empty")
    spark.conf.set("spark.graft.mr.execDir", empty)
    try {
      val e = intercept[IllegalStateException](
        MrQueries.qWordcountPipe(spark, "/root/testdata/sf0.001"))
      assert(e.getMessage.contains(empty))
      // the checked-in copies exist but must NOT rescue a bad override
      assert(!e.getMessage.contains("src/test/resources"))
    } finally spark.conf.unset("spark.graft.mr.execDir")
  }
}
