package graft.mr

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's default job (reference map_reduce/mapreduce/submit.py:
  * 30-49 wires wc_map.sh / wc_reduce.sh): classic word count, here as
  * native mapper/reducer functions with the same line contract.
  * The executable twins live in src/test/resources/mr/exec/. */
object WordCount {

  /** `String.split` compiles a multi-char regex on every call; this is
    * the same pattern compiled once (`Pattern.split` is what
    * `String.split` delegates to, so the words are the same). */
  private val Whitespace = java.util.regex.Pattern.compile("\\s+")

  /** wc_map: one "word\t1" line per whitespace-separated word. */
  val mapper: String => IterableOnce[String] =
    line => Whitespace.split(line).iterator.filter(_.nonEmpty).map(w => s"$w\t1")

  /** wc_reduce: sum the values of each contiguous key group. */
  val reducer: Iterator[String] => Iterator[String] =
    MapReduceJob.groupedReducer { (key, group) =>
      var n = 0L
      group.foreach { line => n += line.substring(key.length + 1).toLong }
      Iterator.single(s"$key\t$n")
    }

  def job(inputDir: String, outputDir: String, numReducers: Int = 2): MapReduceJob =
    MapReduceJob(inputDir, outputDir, _.flatMap(mapper),
      _.mapPartitions(reducer), numReducers)

  /** Word count over an already-loaded RDD of text lines (the same
    * [[MapReduceJob.dataflow]] as [[job]] minus the directory scan)
    * surfaced as a (word, n) DataFrame. The stages default to the native
    * mapper/reducer; the executable twin passes [[MapReduceJob.pipeStage]]
    * stages. */
  def countWords(spark: SparkSession, lines: RDD[String], numReducers: Int,
      mapStage: MapReduceJob.Stage = _.flatMap(mapper),
      reduceStage: MapReduceJob.Stage = _.mapPartitions(reducer))
      : DataFrame = {
    val reduced =
      MapReduceJob.dataflow(lines, mapStage, reduceStage, numReducers)
    import spark.implicits._
    reduced.map { l =>
      val k = MapReduceJob.tabKey(l)
      (k, l.substring(k.length + 1).toLong)
    }.toDF("word", "n")
  }
}

/** Driver-gate queries exercising the Layer-A MapReduce dataflow. */
object MrQueries {

  /** Word count over documents.text THROUGH the MapReduce facade (flatMap →
    * MD5 shuffle → streaming sorted reduce), proving the Layer-A pipeline
    * against the same DuckDB oracle as the pure-DataFrame twin. */
  def qWordcountMr(spark: SparkSession, dir: String): DataFrame = {
    val lines = graft.Tables(spark, dir, "documents")
      .select("text").rdd.map(_.getString(0))
    WordCount.countWords(spark, lines, numReducers = 32)
      .orderBy("word")
  }

  /** Pure-DataFrame word count (Catalyst path: explode+groupBy). */
  def qWordcountDf(spark: SparkSession, dir: String): DataFrame =
    graft.Tables(spark, dir, "documents")
      .select(explode(split(col("text"), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy("word")

  /** Resolve a repo-tracked executable fixture from
    * `spark.graft.mr.execDir` (conf override) or the checkout's
    * src/test/resources/mr/exec relative to the working directory.
    * THROWS when absent: these queries exist to prove the executable
    * contract (reference worker/__main__.py:104-125); a silent native
    * fallback would let the driver gate pass without the pipe path ever
    * executing. */
  private[mr] def execScript(spark: SparkSession, name: String): java.io.File = {
    // An EXPLICIT conf override is authoritative: resolving only against it
    // means a misconfigured path fails loudly instead of being silently
    // masked by the checked-in repo copies. The checkout-relative default
    // applies only when no override is set.
    val conf = spark.conf.get("spark.graft.mr.execDir", "")
    val candidates =
      if (conf.nonEmpty) Seq(conf)
      else Seq(s"${sys.props("user.dir")}/src/test/resources/mr/exec")
    candidates.map(d => new java.io.File(d, name)).find(_.isFile)
      .getOrElse(throw new IllegalStateException(
        s"executable fixture $name not found under ${candidates.mkString(", ")}" +
          " — set spark.graft.mr.execDir; the executable-compat queries must" +
          " not fall back to the native mapper"))
  }

  /** Word count through the EXECUTABLE-compat path (`rdd.pipe` with the
    * wc_map.sh / wc_reduce.sh fixtures — the reference's entire
    * user-extension surface, submit.py:41-49). Scripts are repo-tracked
    * test resources; their absence THROWS via [[execScript]] rather than
    * silently downgrading to the native mapper. */
  def qWordcountPipe(spark: SparkSession, dir: String): DataFrame = {
    val mapSh = execScript(spark, "wc_map.sh")
    val reduceSh = execScript(spark, "wc_reduce.sh")
    val lines = graft.Tables(spark, dir, "documents")
      .select("text").rdd.map(_.getString(0))
    WordCount.countWords(spark, lines, numReducers = 32,
        MapReduceJob.pipeStage("/bin/sh", mapSh.getAbsolutePath),
        MapReduceJob.pipeStage("/bin/sh", reduceSh.getAbsolutePath))
      .orderBy("word")
  }

  /** Word count through the SQL `TRANSFORM ... USING` surface — the
    * declarative twin of the reference's executable-mapper contract
    * (reference worker/__main__.py:104-125): rows stream tab-delimited
    * through wc_map.sh as an external process inside the SQL plan
    * (ScriptTransformation operator), then Catalyst aggregates the
    * emitted (word, 1) lines. ROW FORMAT DELIMITED must be declared on
    * BOTH sides — the default TRANSFORM delimiter is Hive's U+0001 (^A), not
    * the tab the reference convention uses (see SqlTransformSpec).
    * A missing script THROWS via [[execScript]] — no silent native
    * fallback. */
  def qWordcountTransform(spark: SparkSession, dir: String): DataFrame = {
    val mapSh = execScript(spark, "wc_map.sh")
    graft.Tables(spark, dir, "documents")
      .select("text").createOrReplaceTempView("t_wc_transform_in")
    spark.sql(
      s"""SELECT TRANSFORM(text)
         |  ROW FORMAT DELIMITED FIELDS TERMINATED BY '\\t'
         |  USING 'sh ${mapSh.getAbsolutePath}'
         |  AS (word STRING, one STRING)
         |  ROW FORMAT DELIMITED FIELDS TERMINATED BY '\\t'
         |FROM t_wc_transform_in""".stripMargin)
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy("word")
  }

  private val wordcountOracle =
    """SELECT word, COUNT(*) AS n FROM (
      |  SELECT unnest(string_split_regex(text, '\s+')) AS word FROM documents) t
      |WHERE word <> ''
      |GROUP BY word ORDER BY word""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_wordcount_mr" -> qWordcountMr _,
    "q_wordcount_df" -> qWordcountDf _,
    "q_wordcount_pipe" -> qWordcountPipe _,
    "q_wordcount_transform" -> qWordcountTransform _)

  val oracles: Map[String, String] = Map(
    "q_wordcount_mr" -> wordcountOracle,
    "q_wordcount_df" -> wordcountOracle,
    "q_wordcount_pipe" -> wordcountOracle,
    "q_wordcount_transform" -> wordcountOracle)
}
