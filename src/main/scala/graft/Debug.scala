package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.ColumnBridge

// scratch smoke/debug main — not part of the shipped surface
object Debug {
  def main(args: Array[String]): Unit = {
    // default 8 cpus; set SPARK_GRAFT_CPUS=32 to time under the Bench shape
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // match Bench conditions: timed debugging must not pay (or plan
      // around) oracle-export side effects — Verify is the export path.
      // r21 measurement: with export ON, a deduped export call still
      // cost ~0.8 s/run of plan construction in timeq A/Bs, silently
      // skewing every comparison against variants without the call
      .config("spark.graft.oracleExport", "false")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (args.headOption.contains("prewarm")) {
      // time the shared-table build alone: Debug prewarm [dir]
      val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
      val t0 = System.nanoTime()
      SparkEntry.prewarm(spark, dir)
      println(f"PREWARM: ${(System.nanoTime() - t0) / 1e9}%.1fs")
      spark.stop(); return
    }
    if (args.headOption.contains("sql")) {
      // ad-hoc parity probe: Debug sql "<statement>" | Debug sql @file
      val stmt =
        if (args(1).startsWith("@"))
          new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(args(1).drop(1))), "UTF-8")
        else args(1)
      spark.sql(stmt).show(200, truncate = false)
      spark.stop(); return
    }
    if (args.headOption.contains("docgen")) {
      val df = spark.read.format("graft.sources.DocGenSource")
        .option("numDocs", 2000).option("numPartitions", 8).load()
      println(s"docgen rows: ${df.count()}")
      df.orderBy("doc_id").limit(3).collect().foreach(println)
      df.groupBy("lang").count().orderBy("lang").collect()
        .foreach(r => println(s"lang ${r.getString(0)}: ${r.getLong(1)}"))
      spark.stop(); return
    }
    if (args.headOption.contains("q12ab")) {
      // interleaved A/B of q12's bucketed vs plain join (the layout is
      // prewarmed untimed, like Bench): Debug q12ab [n] [dir]
      val n = args.lift(1).map(_.toInt).getOrElse(5)
      val dir = args.lift(2).getOrElse("/root/testdata/sf0.1")
      SparkEntry.entry(spark).write.mode("overwrite").format("noop").save()
      ops.Bucketed.bucketedTable(spark, dir, "lineitem", "l_orderkey")
      ops.Bucketed.bucketedTable(spark, dir, "orders", "o_orderkey")
      (1 to n).foreach { i =>
        for ((tag, b) <- Seq("bucketed" -> true, "plain" -> false)) {
          val t0 = System.nanoTime()
          ops.Tpch.q12Impl(spark, dir, bucketed = b)
            .write.mode("overwrite").format("noop").save()
          println(f"q12 $tag run $i: ${(System.nanoTime() - t0) / 1e9}%.2fs")
        }
      }
      spark.stop(); return
    }
    if (args.headOption.contains("confab")) {
      // interleaved A/B of ONE query under a session-conf toggle:
      // Debug confab <query> <confKey> <valA> <valB> [n] [dir]
      val (q, key, va, vb) = (args(1), args(2), args(3), args(4))
      val n = args.lift(5).map(_.toInt).getOrElse(3)
      val dir = args.lift(6).getOrElse("/root/testdata/sf0.1")
      SparkEntry.entry(spark).write.mode("overwrite").format("noop").save()
      val orig = spark.conf.getOption(key)
      try {
        (1 to n).foreach { i =>
          for (v <- Seq(va, vb)) {
            spark.conf.set(key, v)
            val t0 = System.nanoTime()
            SparkEntry.queries(q)(spark, dir)
              .write.mode("overwrite").format("noop").save()
            println(f"$q $key=$v run $i: ${(System.nanoTime() - t0) / 1e9}%.2fs")
          }
        }
      } finally orig match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      spark.stop(); return
    }
    if (args.headOption.contains("mrtime")) {
      // Head-to-head timing surface for tools/ref_throughput.py: run the
      // SAME MapReduce job the reference runs (streaming executables,
      // MD5 placement, exact part names) N times in one JVM and print
      // per-run seconds — in-process timing, so the comparison against
      // the reference's pre-started manager+workers excludes interpreter/
      // JVM boot on both sides.
      // Debug mrtime <inDir> <outDir> <mapper> <reducer> <nm> <nr> [runs]
      // Each run also prints the shuffle records its tasks wrote and read.
      val Seq(in, out, m, r, nm, nr) = args.slice(1, 7).toSeq
      val runs = args.lift(7).map(_.toInt).getOrElse(3)
      val written = new java.util.concurrent.atomic.AtomicLong
      val read = new java.util.concurrent.atomic.AtomicLong
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null) {
            written.addAndGet(e.taskMetrics.shuffleWriteMetrics.recordsWritten)
            read.addAndGet(e.taskMetrics.shuffleReadMetrics.recordsRead)
          }
      })
      for (i <- 1 to runs) {
        written.set(0); read.set(0)
        val t0 = System.nanoTime()
        mr.Submit.run(spark, Seq("-i", in, "-o", s"$out-$i", "-m", m,
          "-r", r, "--nmappers", nm, "--nreducers", nr))
        println(f"[mrtime] run $i: ${(System.nanoTime() - t0) / 1e9}%.3fs")
        ColumnBridge.drainListeners(spark.sparkContext)
        println(s"[mrtime] shuffle $i: records written ${written.get}, " +
          s"read ${read.get}")
      }
      spark.stop(); return
    }
    if (args.headOption.contains("pwtimeq")) {
      // reproduce the bench condition: full prewarm, then time the FIRST
      // run of each query (is the shared-table steady state actually
      // reached before pass 1?): Debug pwtimeq <n1,n2,..> [n] [dir]
      val names = args(1).split(",").toSeq
      val n = args.lift(2).map(_.toInt).getOrElse(2)
      val dir = args.lift(3).getOrElse("/root/testdata/sf0.1")
      SparkEntry.entry(spark).write.mode("overwrite").format("noop").save()
      val tp = System.nanoTime()
      SparkEntry.prewarm(spark, dir)
      println(f"prewarm: ${(System.nanoTime() - tp) / 1e9}%.1fs")
      (1 to n).foreach { i =>
        names.foreach { name =>
          val t0 = System.nanoTime()
          SparkEntry.queries(name)(spark, dir)
            .write.mode("overwrite").format("noop").save()
          println(f"$name run $i: ${(System.nanoTime() - t0) / 1e9}%.2fs")
        }
      }
      spark.stop(); return
    }
    if (args.headOption.contains("timeq")) {
      // time queries N times in a warm JVM: Debug timeq <n1,n2,..> [n] [dir]
      // multiple names run INTERLEAVED round-robin so machine-contention
      // drift hits all variants equally
      val names = args(1).split(",").toSeq
      val n = args.lift(2).map(_.toInt).getOrElse(3)
      val dir = args.lift(3).getOrElse("/root/testdata/sf0.1")
      SparkEntry.entry(spark).write.mode("overwrite").format("noop").save()
      (1 to n).foreach { i =>
        names.foreach { name =>
          val t0 = System.nanoTime()
          SparkEntry.queries(name)(spark, dir)
            .write.mode("overwrite").format("noop").save()
          println(f"$name run $i: ${(System.nanoTime() - t0) / 1e9}%.2fs")
        }
      }
      spark.stop(); return
    }
    if (args.headOption.contains("warmtimeq")) {
      // Debug warmtimeq <n1,n2,..> [dir] — run each query ONCE at
      // sf0.001 (untimed codegen/JIT warm), then time its FIRST run at
      // the target dir: isolates how much of the first-run penalty a
      // tiny-sf warmup removes (same plan structure → same generated
      // classes).
      val names = args(1).split(",").toSeq
      val dir = args.lift(2).getOrElse("/root/testdata/sf0.1")
      SparkEntry.entry(spark).write.mode("overwrite").format("noop").save()
      names.foreach { name =>
        val tw = System.nanoTime()
        try SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
          .write.mode("overwrite").format("noop").save()
        catch { case e: Throwable => println(s"$name warm failed: $e") }
        val w = (System.nanoTime() - tw) / 1e9
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir)
          .write.mode("overwrite").format("noop").save()
        println(f"$name warmup ${w}%.2fs, first-target-run ${(System.nanoTime() - t0) / 1e9}%.2fs")
      }
      spark.stop(); return
    }
    if (args.headOption.contains("annrecall")) {
      // Debug annrecall [dir] — measured top-3 recall of q_cosine_ann and
      // q_cosine_ivf vs the brute-force ground truth
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val dir = args.lift(1).getOrElse("/root/testdata/sf0.01")
      val emb = ops.Vectors.sharedEmb(spark, dir)
      val dot2 = functions.MixedDotProduct.mixedDot _
      val brute = emb.as("q").join(emb.as("n"),
          col("q.vec_id") =!= col("n.vec_id"))
        .select(col("q.vec_id").as("qid"), col("n.vec_id").as("nid"),
          (dot2(col("q.embedding"), col("n.embedding")) /
            (sqrt(col("q.norm2")) * sqrt(col("n.norm2")))).as("sim"))
      val w = Window.partitionBy("qid").orderBy(desc("sim"), asc("nid"))
      val bruteTop = brute.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3).select("qid", "nid")
      val total = bruteTop.count()
      for (q <- Seq("q_cosine_ann", "q_cosine_ivf")) {
        val t0 = System.nanoTime()
        val top = SparkEntry.queries(q)(spark, dir).select("qid", "nid")
        val hits = bruteTop.join(top, Seq("qid", "nid")).count()
        println(f"$q top-3 recall: ${hits.toDouble / total}%.3f " +
          f"($hits/$total, ${(System.nanoTime() - t0) / 1e9}%.1fs)")
      }
      spark.stop(); return
    }
    if (args.headOption.contains("jacprof")) {
      // stage-by-stage timing of the rep-first jaccard pipeline
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
      val t = 0.8
      def time[A](tag: String)(f: => A): A = {
        val t0 = System.nanoTime(); val r = f
        println(f"  $tag: ${(System.nanoTime() - t0) / 1e9}%.2fs"); r
      }
      SparkEntry.entry(spark).write.mode("overwrite").format("noop").save()
      (1 to 3).foreach { i =>
        println(s"round $i")
        val docs = Tables(spark, dir, "documents")
        val clusters = time("clusters-mat")(Tables.materialize(
          docs.select(col("doc_id"), md5(col("text")).as("h"))
            .withColumn("rep", min(col("doc_id"))
              .over(Window.partitionBy(col("h"))))
            .select(col("doc_id"), col("rep")), "clusters"))
        val sh = time("sh-mat")(Tables.materialize(
          ops.Similarity.shinglesOf(docs.join(
            clusters.filter(col("doc_id") === col("rep"))
              .select("doc_id"), "doc_id")), "shingles"))
        val cand = ops.Similarity.prefixKeys(sh, t)
        time("pairs+verify")(
          ops.Similarity.verifyJaccard(
            ops.Similarity.bucketPairs(cand, Seq("sh_h")), sh, t)
            .write.mode("overwrite").format("noop").save())
      }
      spark.stop(); return
    }
    if (args.headOption.contains("stream")) {
      // drive the streaming file-source path end-to-end
      val dir = java.nio.file.Files.createTempDirectory("stream-in")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
        dir.resolve("events.parquet"))
      import org.apache.spark.sql.streaming.{OutputMode, Trigger}
      val drive = streaming.EventsStream.drain(spark, OutputMode.Update,
        Trigger.ProcessingTime(0)) { s =>
        streaming.EventsStream.fromParquetDir(s, dir.toString)
      }.rows
      println(s"stream rows: ${drive.count()}")
      drive.orderBy("bucket", "event_type").limit(5).collect().foreach(println)
      // session-window flavor over the same file source (complete mode so
      // open sessions surface without a watermark-advancing second file)
      val sess = streaming.EventsStream.drain(spark, OutputMode.Complete,
        Trigger.ProcessingTime(0)) { s =>
        streaming.EventsStream.sessionAgg(Tables.eventsStream(s, dir.toString))
      }.rows
      println(s"session rows: ${sess.count()}")
      sess.orderBy("user_id", "session_start").limit(3).collect()
        .foreach(println)
      spark.stop(); return
    }
    if (args.headOption.contains("streamfloor")) {
      // irreducible micro-batch machinery floor: a MINIMAL AvailableNow
      // stream (one tiny parquet file -> stateless projection -> memory
      // sink; and a stateful variant) timed warm N times. Whatever this
      // reads is the per-gate cost no gate rewrite can remove.
      import org.apache.spark.sql.functions._
      val n = args.lift(1).map(_.toInt).getOrElse(5)
      val dir = java.nio.file.Files.createTempDirectory("floor-in")
      spark.range(100).select(col("id"),
        (col("id") % 7).as("k")).write.parquet(dir.resolve("t").toString)
      val sch = spark.read.parquet(dir.resolve("t").toString).schema
      for (i <- 1 to n; stateful <- Seq(false, true)) {
        val t0 = System.nanoTime()
        val src = spark.readStream.schema(sch)
          .parquet(dir.resolve("t").toString)
        val q0 = if (stateful) src.groupBy("k").count() else src
        val q = q0.writeStream
          .format("memory").queryName(s"floor_${i}_$stateful")
          .outputMode(if (stateful) "complete" else "append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory("floor-ck").toString)
          .start()
        q.awaitTermination()
        println(f"streamfloor stateful=$stateful run $i: " +
          f"${(System.nanoTime() - t0) / 1e9}%.2fs")
      }
      spark.stop(); return
    }
    if (args.headOption.contains("kcoreab")) {
      // interleaved lazy-vs-eager A/B of q_kcore via the conf gate:
      // Debug kcoreab [n] [dir]
      val n = args.lift(1).map(_.toInt).getOrElse(6)
      val dir = args.lift(2).getOrElse("/root/testdata/sf0.1")
      SparkEntry.entry(spark).write.mode("overwrite").format("noop").save()
      (1 to n).foreach { i =>
        for ((tag, v) <- Seq("lazy" -> "5000000", "eager" -> "0")) {
          spark.conf.set("spark.graft.kcore.lazyMaxEdges", v)
          val t0 = System.nanoTime()
          SparkEntry.queries("q_kcore")(spark, dir)
            .write.mode("overwrite").format("noop").save()
          println(f"kcore $tag run $i: ${(System.nanoTime() - t0) / 1e9}%.2fs")
        }
      }
      spark.conf.unset("spark.graft.kcore.lazyMaxEdges")
      spark.stop(); return
    }
    if (args.headOption.contains("frames")) {
      // row counts of the shared similarity/vector frames at a dir:
      // Debug frames [dir]
      val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
      def c(n: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
        val t0 = System.nanoTime()
        val k = df.count()
        println(f"FRAME $n: $k rows (${(System.nanoTime() - t0) / 1e9}%.2fs)")
      }
      c("annSims")(ops.Vectors.annSims(spark, dir))
      c("hamSims")(ops.Vectors.hamSims(spark, dir))
      c("knnCanonEdges")(ops.Graph.knnCanonEdges(spark, dir))
      c("sharedEmb")(ops.Vectors.sharedEmb(spark, dir))
      spark.stop(); return
    }
    if (args.headOption.contains("stageprof")) {
      // per-stage wall/cpu attribution of one warm run per query:
      // Debug stageprof <q1,q2,..> [dir]
      val dir = args.lift(2).getOrElse("/root/testdata/sf0.1")
      val stages = new java.util.concurrent.ConcurrentLinkedQueue[
        (Int, String, Long, Long, Int)]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val wall = si.completionTime.getOrElse(0L) -
            si.submissionTime.getOrElse(0L)
          stages.add((si.stageId, si.name.takeWhile(_ != '\n').take(80),
            wall, si.taskMetrics.executorRunTime, si.numTasks))
        }
      }
      for (q <- args(1).split(",").toSeq) {
        SparkEntry.queries(q)(spark, dir)
          .write.mode("overwrite").format("noop").save() // warm
        stages.clear()
        spark.sparkContext.addSparkListener(listener)
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, dir)
          .write.mode("overwrite").format("noop").save()
        val total = (System.nanoTime() - t0) / 1e9
        Thread.sleep(1200) // let the listener bus drain
        spark.sparkContext.removeSparkListener(listener)
        val ss = scala.jdk.CollectionConverters.IteratorHasAsScala(
          stages.iterator()).asScala.toSeq.sortBy(_._1)
        val stageWall = ss.map(_._3).sum / 1e3
        println(f"TOTAL $q: $total%.2fs (stage-wall $stageWall%.2fs, " +
          f"driver-gap ${total - stageWall}%.2fs)")
        ss.foreach { case (id, n, w, rt, nt) =>
          println(f"  stage $id%4d wall=${w / 1e3}%6.2fs taskSum=${rt / 1e3}%7.2fs tasks=$nt%3d  $n")
        }
      }
      spark.stop(); return
    }
    if (args.headOption.contains("explainrun")) {
      // execute through the noop sink, then print the FINAL adaptive
      // plan: Debug explainrun <q1,q2> [dir]
      val dir = args.lift(2).getOrElse("/root/testdata/sf0.1")
      args.lift(1).map(_.split(",").toSeq).getOrElse(Seq("q1_pricing"))
        .foreach { q =>
          val df = SparkEntry.queries(q)(spark, dir)
          df.write.mode("overwrite").format("noop").save()
          println(s"===== $q =====")
          println(df.queryExecution.executedPlan.toString)
        }
      spark.stop(); return
    }
    if (args.headOption.contains("explain")) {
      val dir = args.lift(2).getOrElse("/root/testdata/sf0.1")
      args.lift(1).map(_.split(",").toSeq).getOrElse(Seq("q1_pricing"))
        .foreach { q =>
          println(s"===== $q =====")
          println(SparkEntry.queries(q)(spark, dir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        }
      spark.stop(); return
    }
    if (args.headOption.contains("vec")) {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.DecimalType
      val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        .filter(col("vec_id") === 454)
        .select(explode(col("embedding")).as("x"))
        .select(col("x"),
          col("x").cast(DecimalType(18, 9)).as("direct"),
          col("x").cast("double").cast(DecimalType(18, 9)).as("via_double"),
          col("x").cast("double").as("dbl"))
      emb.collect().take(64).foreach { r =>
        println(s"${r.get(0)}|${r.get(1)}|${r.get(2)}|${r.get(3)}")
      }
      spark.stop(); return
    }
    if (args.headOption.contains("mr")) {
      // drive the MapReduce facade's file surface end-to-end
      val in = java.nio.file.Files.createTempDirectory("mr-drive")
      java.nio.file.Files.writeString(in.resolve("doc1.txt"),
        "to be or not to be\nthat is the question\n")
      java.nio.file.Files.writeString(in.resolve("doc2.txt"),
        "be the question\n")
      val out = "/tmp/mr-drive-out"
      mr.WordCount.job(in.toString, out, numReducers = 3).run(spark)
      println("part files:")
      new java.io.File(out).listFiles.sortBy(_.getName)
        .filter(_.getName.startsWith("part-")).foreach { f =>
        println(s"  ${f.getName}:")
        scala.io.Source.fromFile(f).getLines().foreach(l => println(s"    $l"))
      }
      spark.stop(); return
    }
    val entryRows = SparkEntry.entry(spark).collect()
    println(s"entry rows: ${entryRows.length}")
    entryRows.take(3).foreach(println)
    println(s"queries registered: ${SparkEntry.queries.size}")
    println(s"oracles registered: ${SparkEntry.oracleSql.size}")
    val missingOracles = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    println(s"queries without oracle: $missingOracles")
    spark.stop()
  }
}
