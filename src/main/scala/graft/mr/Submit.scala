package graft.mr

import org.apache.spark.sql.SparkSession

/** Job-submission facade mirroring the reference's `mapreduce-submit` CLI
  * (reference map_reduce/mapreduce/submit.py:20-98): same options, same
  * defaults, same summary print — but instead of posting a JSON message to
  * a manager socket, it runs the job in-process on Spark (the manager /
  * worker fleet the message would reach is replaced by Spark's scheduler).
  *
  *   runMain graft.mr.Submit -i <inputDir> -o <outputDir> \
  *     -m <mapperCmd> -r <reducerCmd> --nmappers N --nreducers R
  *
  * The mapper/reducer executables keep the reference's streaming contract
  * (lines on stdin → lines on stdout; reduce input sorted with equal keys
  * contiguous) via `rdd.pipe`, in UTF-8. Output is byte-compat
  * `part-{i:05d}`.
  */
object Submit {

  // defaults mirror submit.py:30-57
  private case class Args(
      input: String = "tests/testdata/input",
      output: String = "output",
      mapper: String = "tests/testdata/exec/wc_map.sh",
      reducer: String = "tests/testdata/exec/wc_reduce.sh",
      numMappers: Int = 2,
      numReducers: Int = 2)

  private def parse(argv: List[String], acc: Args): Args = argv match {
    case Nil => acc
    case ("--input" | "-i") :: v :: rest => parse(rest, acc.copy(input = v))
    case ("--output" | "-o") :: v :: rest => parse(rest, acc.copy(output = v))
    case ("--mapper" | "-m") :: v :: rest => parse(rest, acc.copy(mapper = v))
    case ("--reducer" | "-r") :: v :: rest => parse(rest, acc.copy(reducer = v))
    case "--nmappers" :: v :: rest => parse(rest, acc.copy(numMappers = v.toInt))
    case "--nreducers" :: v :: rest => parse(rest, acc.copy(numReducers = v.toInt))
    case other :: _ =>
      throw new IllegalArgumentException(s"unknown option: $other")
  }

  // executables run DIRECTLY (shebang honored), exactly like the
  // reference workers exec them — wrapping in /bin/sh would break any
  // non-shell mapper (e.g. a python script)
  private def job(a: Args): MapReduceJob = MapReduceJob(
    inputDir = a.input, outputDir = a.output,
    mapStage =
      MapReduceJob.pipeStage(new java.io.File(a.mapper).getAbsolutePath),
    reduceStage =
      MapReduceJob.pipeStage(new java.io.File(a.reducer).getAbsolutePath),
    numReducers = a.numReducers, numMappers = a.numMappers)

  /** Cluster-lifecycle subcommands mirroring the reference's
    * `bin/mapreduce start|stop|status|restart` launcher (reference
    * map_reduce/bin/mapreduce:14-103, which pgrep/pkills a manager on
    * port 6000 plus two workers). Under Spark the manager/worker fleet IS
    * the scheduler inside the job JVM, so each subcommand maps onto the
    * scheduler's real lifecycle: `start`/`status` report the live
    * SparkContext with the reference's "manager running / workers
    * running" lines (exit 0 iff up, like pgrep), `stop` cancels every
    * in-flight job (the shutdown JSON the launcher netcats, which the
    * manager forwards to its workers — reference bin/mapreduce:28-44)
    * and then stops the SparkContext (the pkill), and `restart` is
    * stop-then-relaunch on a fresh context. Like the launcher's
    * `|| true`d kills, `stop` exits 0 whether or not anything was
    * running, and a second stop finds nothing to kill and prints
    * nothing. On a real cluster these map to the cluster manager's own
    * lifecycle (spark-submit / YARN / K8s), not this CLI. */
  def lifecycle(spark: SparkSession, cmd: String): Int = cmd match {
    case "start" | "status" =>
      if (spark.sparkContext.isStopped) { println("manager not running"); 1 }
      else {
        // the two reference lines, reinterpreted: manager := DAGScheduler
        // in this JVM; workers := the executor slots it schedules into
        println(s"manager running (Spark ${spark.version} scheduler, " +
          s"master ${spark.sparkContext.master})")
        println(s"workers running (${spark.sparkContext.defaultParallelism} " +
          "executor slots)")
        0
      }
    case "stop" =>
      // kill lines mirror the launcher verbatim; printed only when there
      // is something to kill (pgrep-gated in the reference)
      if (!spark.sparkContext.isStopped) {
        spark.sparkContext.cancelAllJobs() // the forwarded shutdown message
        println("killing mapreduce manager ...")
        println("killing mapreduce worker ...")
        spark.stop() // the pkill
      }
      0
    case "restart" =>
      // reference bin/mapreduce:67-103: the stop block followed by the
      // start block. Conf captured BEFORE the kill so the relaunched
      // context keeps the master/parallelism of the one it replaces.
      val conf = spark.sparkContext.getConf
      lifecycle(spark, "stop")
      lifecycle(SparkSession.builder().config(conf).getOrCreate(), "start")
    case other =>
      println(s"Usage: Submit (start|stop|status|restart) | -i ... -o ...")
      println(s"unknown lifecycle command: $other"); 1
  }

  private def splitQueue(argv: Seq[String]): Vector[Vector[String]] = {
    val jobs = argv.foldLeft(Vector(Vector.empty[String])) {
      case (acc, "--then") => acc :+ Vector.empty
      case (acc, a) => acc.init :+ (acc.last :+ a)
    }
    // a leading/trailing/doubled --then produces an empty group; name the
    // queue syntax in the error instead of failing later on missing -i/-o
    if (jobs.exists(_.isEmpty))
      throw new IllegalArgumentException(
        "empty job group in --then queue: every --then must separate two " +
          "complete '-i ... -o ...' argument groups")
    jobs
  }

  /** Multi-job FIFO submission mirroring the reference manager's queue
    * (reference manager/__main__.py:104,215-222: submitted jobs append to
    * a FIFO queue and run strictly one at a time, each under an
    * incrementing job id): argv groups separated by `--then` run
    * sequentially in submission order. Under Spark the in-session
    * equivalent is the FIFO scheduler; this surfaces the reference's
    * multi-job CLI semantics over it. Like the reference manager, a failed
    * job doesn't stop the FIFO — later jobs still run — but the returned
    * exit code reports the failure (1 if any queued job failed). */
  private[mr] def runQueueCli(spark: SparkSession, argv: Seq[String]): Int =
    splitQueue(argv).zipWithIndex.map { case (jargv, i) =>
      println(s"running job $i") // mirrors manager/__main__.py:216
      // NonFatal only: a fatal JVM error (OOM, thread death) must abort the
      // queue, not keep scheduling jobs into a possibly corrupted JVM.
      // e.toString, not getMessage — getMessage is null for e.g. bare NPEs.
      try { run(spark, jargv); 0 }
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"job $i failed: ${Option(e.getMessage).getOrElse(e.toString)}"); 1 }
    }.max

  /** CLI-shaped entry usable from tests: parse args, run, return output dir. */
  def run(spark: SparkSession, argv: Seq[String]): String = {
    val a = parse(argv.toList, Args())
    job(a).run(spark, exactPartNames = true)
    // summary print mirrors submit.py:90-97
    println("Submitted job to Spark")
    println(s"input directory      ${a.input}")
    println(s"output directory     ${a.output}")
    println(s"mapper executable    ${a.mapper}")
    println(s"reducer executable   ${a.reducer}")
    println(s"num mappers          ${a.numMappers}")
    println(s"num reducers         ${a.numReducers}")
    a.output
  }

  def main(args: Array[String]): Unit = {
    val spark = WireDispatch.localSession()
    val code =
      try {
        if (args.headOption.exists(Set("start", "stop", "status", "restart")))
          lifecycle(spark, args.head)
        else if (args.contains("--then")) runQueueCli(spark, args.toSeq)
        else { run(spark, args.toSeq); 0 }
      } finally {
        spark.stop()
        // restart swaps in a fresh context (and sets it as the default
        // session); stop it too or its non-daemon threads outlive main
        SparkSession.getDefaultSession.foreach(_.stop())
        SparkSession.getActiveSession.foreach(_.stop())
      }
    if (code != 0) sys.exit(code)
  }
}
