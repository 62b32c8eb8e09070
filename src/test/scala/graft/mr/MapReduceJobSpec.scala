package graft.mr

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.SparkSpec
import MapReduceJob.LineCounts

class MapReduceJobSpec extends SparkSpec {

  private def writeInput(dir: String, files: Map[String, String]): Unit =
    files.foreach { case (name, content) =>
      Files.writeString(Paths.get(dir, name), content)
    }

  private def readPartFiles(dir: String): Map[String, Seq[String]] =
    Files.list(Paths.get(dir)).iterator.asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .map(p => p.getFileName.toString ->
        Files.readAllLines(p).asScala.toSeq)
      .toMap

  private val corpus = Map(
    "f1.txt" -> "the quick brown fox\nthe lazy dog\n",
    "f2.txt" -> "the dog barks\nquick quick fox\n",
    "f3.txt" -> "lazy lazy lazy\n")

  private val expectedCounts = Map(
    "the" -> 3L, "quick" -> 3L, "brown" -> 1L, "fox" -> 2L,
    "lazy" -> 4L, "dog" -> 2L, "barks" -> 1L)

  test("golden word count end-to-end: counts, file naming, placement, order") {
    val in = tmpDir("mr-in")
    val out = tmpDir("mr-out") + "/result"
    writeInput(in, corpus)

    WordCount.job(in, out, numReducers = 4).run(spark)

    val parts = readPartFiles(out)
    // O8: exactly R part files named part-{i:05d} (worker/__main__.py:193)
    assert(parts.keySet === Set("part-00000", "part-00001", "part-00002", "part-00003"))

    val parsed = parts.map { case (name, lines) =>
      name -> lines.map { l =>
        val Array(k, v) = l.split("\t", 2); (k, v.toLong)
      }
    }
    // golden counts
    assert(parsed.values.flatten.toMap === expectedCounts)
    // O4: each word is in the partition the reference's MD5-mod would pick
    parsed.foreach { case (name, kvs) =>
      val idx = name.stripPrefix("part-").toInt
      kvs.foreach { case (k, _) =>
        assert(Md5Partitioner.partition(k, 4) === idx, s"$k in $name")
      }
    }
    // O5/O6: lines within each part file are key-sorted (sorted-stream
    // contract the reference reducer relies on, worker/__main__.py:200-202)
    parsed.values.foreach { kvs =>
      assert(kvs.map(_._1) === kvs.map(_._1).sorted)
    }
  }

  test("run overwrites a previous job's output directory") {
    val in = tmpDir("mr-in2")
    val out = tmpDir("mr-out2") + "/result"
    writeInput(in, Map("f.txt" -> "a b\n"))
    WordCount.job(in, out, numReducers = 2).run(spark)
    WordCount.job(in, out, numReducers = 2).run(spark)
    val all = readPartFiles(out).values.flatten.toSeq
    assert(all.sorted === Seq("a\t1", "b\t1"))
  }

  test("executable pipe path (rdd.pipe) multiset-equals the native path") {
    val in = tmpDir("mr-in3")
    writeInput(in, corpus)
    val res = getClass.getResource("/mr/exec/wc_map.sh")
    assume(res != null, "pipe fixtures on test classpath")
    val mapSh = Paths.get(res.toURI).toString
    val reduceSh = Paths.get(getClass.getResource("/mr/exec/wc_reduce.sh").toURI).toString

    val nativeOut = WordCount.job(in, tmpDir("mr-nat") + "/o", 3)
    val pipeOut = MapReduceJob(in, tmpDir("mr-pipe") + "/o",
      _.pipe(Seq("/bin/sh", mapSh)), _.pipe(Seq("/bin/sh", reduceSh)), 3)

    val nativeLines = nativeOut.transform(spark).collect().sorted
    val pipeLines = pipeOut.transform(spark).collect().sorted
    assert(pipeLines === nativeLines)
    assert(nativeLines.nonEmpty)
  }

  test("wholeFiles compat mode: same results, no file split across map tasks") {
    val in = tmpDir("mr-whole")
    writeInput(in, corpus)
    // identical output to the default byte-split mode (stateless mapper)
    val a = WordCount.job(in, tmpDir("mr-w1") + "/o", 3)
      .copy(wholeFiles = true).transform(spark).collect().sorted
    val b = WordCount.job(in, tmpDir("mr-w2") + "/o", 3)
      .transform(spark).collect().sorted
    assert(a === b)
    // reference granularity (manager/__main__.py:440-455): every file's
    // lines land contiguous in ONE map partition, in file order
    val byPartition = MapReduceJob.inputLines(spark, in, wholeFiles = true)
      .mapPartitionsWithIndex { (i, it) => it.map(l => (i, l)) }
      .collect()
    corpus.values.foreach { content =>
      val fileLines = content.linesIterator.toSeq
      val idx = byPartition.indexWhere(_._2 == fileLines.head)
      assert(idx >= 0)
      val window = byPartition.slice(idx, idx + fileLines.length)
      assert(window.map(_._2).toSeq === fileLines, "lines contiguous in order")
      assert(window.map(_._1).distinct.length === 1, "single partition")
    }
  }

  /** name → content of every entry of an output dir. */
  private def outputBytes(dir: String): Map[String, String] =
    Files.list(Paths.get(dir)).iterator.asScala
      .map(p => p.getFileName.toString -> Files.readString(p)).toMap

  test("input edge cases: CRLF, no trailing newline, empty and hidden files") {
    val in = tmpDir("mr-edge")
    writeInput(in, Map(
      "crlf.txt" -> "a b\r\nc a\r\n",
      "notrail.txt" -> "b d",
      "empty.txt" -> "",
      "_SUCCESS" -> "zz hidden\n",
      ".hidden" -> "zz hidden\n"))
    val identity: MapReduceJob.Stage = lines => lines
    // word count, R = 3: "zz" and "hidden" would both land in part-00002
    val counts = Map(
      "part-00000" -> "d\t1\n",
      "part-00001" -> "a\t2\nb\t2\nc\t1\n",
      "part-00002" -> "")
    // identity, R = 2: the raw lines, so a kept '\r' or a lost last line
    // changes the bytes. Tab-less lines are keyed with their newline, as
    // the reference worker keys them: md5("a b\n"), md5("b d\n") and
    // md5("c a\n") are all even
    val lines = Map(
      "part-00000" -> "a b\nb d\nc a\n",
      "part-00001" -> "")

    def native(out: String, wholeFiles: Boolean): Unit = {
      WordCount.job(in, s"$out/wc", 3).copy(wholeFiles = wholeFiles)
        .run(spark, exactPartNames = true)
      MapReduceJob(in, s"$out/id", identity, identity, 2,
        wholeFiles = wholeFiles).run(spark, exactPartNames = true)
    }
    def submit(out: String): Unit = {
      Submit.run(spark, Seq("-i", in, "-o", s"$out/wc",
        "-m", stageExecutable("/mr/exec/wc_map.sh"),
        "-r", stageExecutable("/mr/exec/wc_reduce.sh"), "--nreducers", "3"))
      Submit.run(spark, Seq("-i", in, "-o", s"$out/id",
        "-m", "/bin/cat", "-r", "/bin/cat", "--nreducers", "2"))
    }
    val runs = Seq[(String, String => Unit)](
      "native" -> (native(_, wholeFiles = false)),
      "Submit.run" -> submit,
      "wholeFiles" -> (native(_, wholeFiles = true)))
    runs.foreach { case (mode, run) =>
      val out = tmpDir("mr-edge-out")
      run(out)
      assert(outputBytes(s"$out/wc") === counts, s"$mode word count")
      assert(outputBytes(s"$out/id") === lines, s"$mode identity")
    }
  }

  test("input partitions: bounded on many small files, floored at numMappers") {
    val sc = spark.sparkContext
    val many = tmpDir("mr-many")
    writeInput(many, (0 until 256).map(i => f"f$i%03d.txt" -> s"w$i x\n").toMap)
    val expected = (0 until 256).map(i => s"w$i x").sorted
    Seq(false, true).foreach { wholeFiles =>
      Seq(1, 4).foreach { numMappers =>
        val rdd = MapReduceJob.inputLines(spark, many, wholeFiles, numMappers)
        assert(rdd.getNumPartitions <=
          4 * math.max(numMappers, sc.defaultParallelism),
          s"wholeFiles=$wholeFiles numMappers=$numMappers")
        assert(rdd.collect().sorted.toSeq === expected)
      }
    }

    val one = tmpDir("mr-one")
    writeInput(one, Map("only.txt" -> "p q\nr s\nt u\n"))
    Seq(false, true).foreach { wholeFiles =>
      val rdd = MapReduceJob.inputLines(spark, one, wholeFiles, 3)
      assert(rdd.getNumPartitions >= 3, s"wholeFiles=$wholeFiles")
      assert(rdd.collect().toSeq.sorted === Seq("p q", "r s", "t u"))
    }

    // the floor fires in wholeFiles mode: every file's lines still land
    // contiguous in ONE partition, in file order
    val in = tmpDir("mr-floor")
    writeInput(in, corpus)
    val floored = MapReduceJob.inputLines(spark, in, wholeFiles = true, 8)
    assert(floored.getNumPartitions >= 8)
    val byPartition = floored
      .mapPartitionsWithIndex { (i, it) => it.map(l => (i, l)) }
      .collect()
    assert(byPartition.length === corpus.values.map(_.linesIterator.size).sum)
    corpus.values.foreach { content =>
      val fileLines = content.linesIterator.toSeq
      val idx = byPartition.indexWhere(_._2 == fileLines.head)
      assert(idx >= 0)
      val window = byPartition.slice(idx, idx + fileLines.length)
      assert(window.map(_._2).toSeq === fileLines, "lines contiguous in order")
      assert(window.map(_._1).distinct.length === 1, "single partition")
    }
  }

  test("line-count shuffle: each reducer receives the full sorted stream, duplicates included") {
    val rnd = new scala.util.Random(7)
    val hot = Seq("the\t1", "a\t1", "fox\t1", "\uFFFD\t1", "\uD83D\uDE00\t1",
      "lazy dog", "")
    // heavy duplication: every map task sees every hot line many times,
    // plus lines that occur once
    val lines = Seq.tabulate(4000) { i =>
      if (i % 10 == 0) s"once-$i\t1" else hot(rnd.nextInt(hot.length))
    }
    val mapped = spark.sparkContext.parallelize(lines, numSlices = 5)
    val caps = Seq(
      "default caps" -> (LineCounts.MaxEntries, LineCounts.MaxChars),
      "entry cap 3" -> (3, LineCounts.MaxChars),
      "char cap 8" -> (LineCounts.MaxEntries, 8L))
    for ((name, (maxEntries, maxChars)) <- caps; r <- Seq(1, 3)) {
      // what a recording identity reducer receives in each partition
      val got = MapReduceJob.shuffle(mapped, r, maxEntries, maxChars)
        .glom().collect().map(_.toSeq).toSeq
      // the same stream by hand: MD5-mod placement, code-point order,
      // duplicates kept
      val expected = (0 until r).map { i =>
        lines.filter(l =>
          Md5Partitioner.partition(MapReduceJob.partitionKey(l), r) == i)
          .sorted(MapReduceJob.CodePointOrder)
      }
      assert(got === expected, s"$name, R = $r")
    }
  }

  test("CodePointOrder equals code-point sequence order, unpaired surrogates included") {
    // BMP chars on both sides of the surrogate block, both surrogate
    // halves, pairs (U+1F600, U+1F601, U+10000, U+10FFFF), and '\t' and
    // '\n' on both sides of a line's terminating newline
    val units =
      "a\t\n\u0001\uD7FF\uD800\uDBFF\uD83D\uDC00\uDE00\uDE01\uDFFF\uE000\uFFFD"
    val rnd = new scala.util.Random(11)
    def str(): String =
      Seq.fill(rnd.nextInt(6))(units(rnd.nextInt(units.length))).mkString
    def cps(s: String) = s.codePoints().toArray
    for (_ <- 1 to 20000) {
      val (a, b) = (str(), str())
      // lines compare newline-terminated; plain strings (file names) as is
      val want = java.util.Arrays.compare(cps(a + "\n"), cps(b + "\n")).sign
      assert(MapReduceJob.CodePointOrder.compare(a, b).sign === want,
        s"${a.map(_.toInt)} vs ${b.map(_.toInt)}")
      assert(MapReduceJob.CodePointOrder.plain.compare(a, b).sign ===
        java.util.Arrays.compare(cps(a), cps(b)).sign)
    }
    assert(MapReduceJob.CodePointOrder.lt("\uFFFD\t2", "\uD83D\uDE00\t1"))
    assert("\uFFFD\t2".compareTo("\uD83D\uDE00\t1") > 0, "UTF-16 order differs")
    // the prefix tie: "a\tx\n" < "a\n" < "ab\n"
    assert(MapReduceJob.CodePointOrder.lt("a\tx", "a"))
    assert(MapReduceJob.CodePointOrder.lt("a", "ab"))
    assert(MapReduceJob.CodePointOrder.plain.lt("a", "a\tx"))
  }

  test("LineCounts flushes at its caps and keeps every occurrence") {
    def counts(lines: Seq[String], maxEntries: Int, maxChars: Long) =
      new LineCounts(lines.iterator, maxEntries, maxChars).toSeq
    val lines = Seq("a", "b", "a", "c", "a", "a", "b", "d")
    // no cap reached: one record per distinct line
    assert(counts(lines, 10, 100).toMap ===
      Map("a" -> 4L, "b" -> 2L, "c" -> 1L, "d" -> 1L))
    assert(counts(lines, 10, 100).length === 4)
    // entry cap 2: {a, b} counts the repeat of a, then c flushes it
    val capped = counts(lines, 2, 100)
    assert(capped.take(2).toMap === Map("a" -> 2L, "b" -> 1L))
    assert(capped.drop(2).take(2).toMap === Map("c" -> 1L, "a" -> 2L))
    assert(capped.drop(4).toMap === Map("b" -> 1L, "d" -> 1L))
    // char cap: a line longer than the cap still makes progress
    val long = "x" * 50
    val byChars = counts(Seq(long, long, "y", long), 10, 10)
    assert(byChars.head === long -> 2L)
    assert(byChars.tail.toMap === Map("y" -> 1L, long -> 1L))
    assert(counts(Seq.empty, 2, 100).isEmpty)
  }

  test("expandCounts turns Long counts back into lines, in order") {
    assert(MapReduceJob.expandCounts(
      Iterator(("a", 3L), ("b", 0L), ("c", 1L), ("d", 2L))).toSeq ===
      Seq("a", "a", "a", "c", "d", "d"))
    assert(MapReduceJob.expandCounts(Iterator.empty).isEmpty)
    val it = MapReduceJob.expandCounts(Iterator(("z", 1L)))
    assert(it.next() === "z")
    assert(!it.hasNext)
    assertThrows[NoSuchElementException](it.next())
  }

  test("word count shuffles at most distinct words x map tasks records") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
      SparkListenerTaskEnd}
    val in = tmpDir("mr-records")
    // the corpus 50 times over: 800 words, 7 distinct
    writeInput(in, corpus.map { case (f, c) => f -> c * 50 })
    val job = WordCount.job(in, tmpDir("mr-records-out") + "/o", 3)
    val mapTasks = MapReduceJob.inputLines(spark, in, wholeFiles = false,
      job.numMappers).getNumPartitions
    val sc = spark.sparkContext
    val group = s"mr-records-${java.util.UUID.randomUUID}"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val written = new java.util.concurrent.atomic.AtomicLong
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          e.stageIds.foreach(stages.add)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          written.addAndGet(e.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "line-count shuffle records")
      try job.run(spark) finally sc.clearJobGroup()
      org.apache.spark.sql.graftbridge.ColumnBridge.drainListeners(sc)
    } finally sc.removeSparkListener(l)
    assert(written.get > 0)
    assert(written.get <= expectedCounts.size * mapTasks,
      s"$mapTasks map tasks")
    val counts = readPartFiles(job.outputDir).values.flatten.map { l =>
      val Array(k, v) = l.split("\t", 2); k -> v.toLong
    }.toMap
    assert(counts === expectedCounts.map { case (k, v) => k -> v * 50 })
  }

  test("groupedReducer streams contiguous groups without materializing") {
    val lines = Iterator("a\t1", "a\t2", "b\t5", "c\t1", "c\t1")
    val out = MapReduceJob.groupedReducer { (k, g) =>
      Iterator.single(s"$k\t${g.map(l => l.substring(k.length + 1).toInt).sum}")
    }(lines).toSeq
    assert(out === Seq("a\t3", "b\t5", "c\t2"))
  }

  test("groupedReducer drains unconsumed groups") {
    val lines = Iterator("a\t1", "a\t2", "b\t5")
    val out = MapReduceJob.groupedReducer { (k, g) =>
      Iterator.single(k) // never consumes the group
    }(lines).toSeq
    assert(out === Seq("a", "b"))
  }

  test("tabKey matches the reference split contract") {
    assert(MapReduceJob.tabKey("k\tv") === "k")
    assert(MapReduceJob.tabKey("k\tv\tw") === "k")
    assert(MapReduceJob.tabKey("notab") === "notab")
    assert(MapReduceJob.tabKey("\tv") === "")
  }
}
