package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Regression tests for the shared-materialization machinery, the
  * schema-cached parquet read path, the DuckDB-form percentile and
  * Bench's JSON record hygiene. */
class TablesSpec extends SparkSpec {

  /** Entries of the session temp dir whose name starts with `prefix`. */
  private def tempDirsNamed(prefix: String): Int =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).listFiles())
      .toSeq.flatten.count(_.getName.startsWith(prefix))

  /** Runs `body` and returns how many schema-inference jobs (a job whose
    * first stage is `parquet at Tables.scala:N`) it launched. */
  private def inferenceJobs(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"tablesspec-${java.util.UUID.randomUUID}"
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group) &&
            e.stageInfos.headOption.exists(_.name.startsWith("parquet at Tables.scala")))
          n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "schema inference count")
      try body finally sc.clearJobGroup()
      org.apache.spark.sql.graftbridge.ColumnBridge.drainListeners(sc)
    } finally sc.removeSparkListener(l)
    n.get
  }

  test("materializeSharedBy rebuilds when its backing dir was externally removed") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val first = Tables.materializeSharedBy(spark, "tablesspec", "recovery-test")(df)
    assert(first.count() === 2)
    val cached = Tables.schemaCacheSize
    // find and delete the backing dir (the long-session /tmp-cleaner
    // scenario the recovery exists for)
    val loc = first.inputFiles.head.stripPrefix("file:")
    val dir = new java.io.File(loc).getParentFile
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(dir)
    assert(!dir.exists())
    // reuse must detect the loss and rebuild, not serve the dead path
    val again = Tables.materializeSharedBy(spark, "tablesspec", "recovery-test")(df)
    assert(again.count() === 2)
    // the dead dir's schema entry went with it; the rebuilt dir has one
    assert(Tables.schemaCacheSize === cached)
    // and while the dir is alive, the cache really does reuse it
    val third = Tables.materializeSharedBy(spark, "tablesspec", "recovery-test")(
      Seq((9L, "z")).toDF("id", "v"))
    assert(third.count() === 2) // caller-promised same content: reused
    // a staged layout follows the same rule
    var writes = 0
    def stage() = Tables.staged("tablesspec", "staged-recovery-test") { d =>
      writes += 1
      spark.range(3).write.mode("overwrite").parquet(d)
    }
    val s1 = stage()
    assert(Tables.parquet(spark, s1).count() === 3)
    val stagedCached = Tables.schemaCacheSize
    rm(new java.io.File(s1))
    val s2 = stage()
    assert(writes === 2 && new java.io.File(s2).isDirectory)
    assert(Tables.parquet(spark, s2).count() === 3)
    assert(Tables.schemaCacheSize === stagedCached)
    assert(stage() === s2 && writes === 2) // alive: reused
  }

  test("two threads staging one key run its write once; a failed write caches nothing") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val key = java.util.UUID.randomUUID.toString
    val writes = new java.util.concurrent.atomic.AtomicInteger()
    val go = new java.util.concurrent.CountDownLatch(1)
    def stage(): String = {
      go.await()
      Tables.staged("tablesspec-once", key) { d =>
        writes.incrementAndGet()
        Thread.sleep(300) // hold the build while the other thread arrives
        java.nio.file.Files.write(
          java.nio.file.Paths.get(d, "x"), Array[Byte](1))
        ()
      }
    }
    val both = Seq.fill(2)(Future(stage()))
    go.countDown()
    val dirs = both.map(Await.result(_, 60.seconds))
    assert(writes.get === 1)
    assert(dirs.distinct.size === 1 && new java.io.File(dirs.head, "x").isFile)
    // a write that throws leaves no entry behind: the next call writes
    val failKey = java.util.UUID.randomUUID.toString
    intercept[IllegalStateException] {
      Tables.staged("tablesspec-once", failKey)(
        _ => throw new IllegalStateException("boom"))
    }
    var retried = 0
    Tables.staged("tablesspec-once", failKey)(_ => retried += 1)
    assert(retried === 1)
  }

  test("materializeSharedBy never touches the builder on reuse") {
    import spark.implicits._
    // the CC labelings are built through this path BECAUSE their
    // construction executes Spark jobs: a reuse that re-evaluates the
    // builder would re-run the whole iterative loop just to discard it
    var builds = 0
    def build() = { builds += 1; Seq((1L, 2L)).toDF("a", "b") }
    val first = Tables.materializeSharedBy(spark, "tablesspec", "lazy-test")(build())
    assert(first.count() === 1 && builds === 1)
    val again = Tables.materializeSharedBy(spark, "tablesspec", "lazy-test")(build())
    assert(again.count() === 1)
    assert(builds === 1, "reuse evaluated the by-name builder")
  }

  test("Tables.parquet runs one schema-inference job across N reads of a path") {
    val dir = tmpDir("graft-schema-once-")
    spark.range(10).selectExpr("id", "cast(id AS string) AS s")
      .write.mode("overwrite").parquet(dir)
    val jobs = inferenceJobs {
      (1 to 5).foreach(_ => assert(Tables.parquet(spark, dir).count() === 10))
    }
    assert(jobs === 1, s"$jobs inference jobs for 5 reads of one path")
    Tables.deleteDir(dir)
  }

  test("a cached Tables.parquet read equals an uncached read, nullability included") {
    val dir = tmpDir("graft-schema-equal-")
    spark.range(20).selectExpr("id",
        "CASE WHEN id % 3 = 0 THEN NULL ELSE id * 1.5 END AS d",
        "cast(id AS decimal(18, 2)) AS m",
        "timestamp_micros(id * 1000000) AS ts",
        "named_struct('a', id, 'b', array(id, id + 1)) AS st",
        "map(cast(id AS string), id) AS mp")
      .write.mode("overwrite").parquet(dir)
    val first = Tables.parquet(spark, dir) // miss: infers
    val hit = Tables.parquet(spark, dir)
    val plain = spark.read.parquet(dir)
    for (df <- Seq(first, hit)) {
      assert(df.schema === plain.schema)
      assert(df.schema.map(_.nullable) === plain.schema.map(_.nullable))
      assert(df.orderBy("id").collect().toSeq ===
        plain.orderBy("id").collect().toSeq)
    }
    Tables.deleteDir(dir)
  }

  test("overwriting a path with a different schema is re-inferred, not served stale") {
    val dir = tmpDir("graft-schema-rewrite-")
    spark.range(3).selectExpr("id", "cast(id AS string) AS s")
      .write.mode("overwrite").parquet(dir)
    assert(Tables.parquet(spark, dir).columns.toSeq === Seq("id", "s"))
    val before = Tables.schemaCacheSize
    spark.range(4).selectExpr("cast(id AS double) * 0.5 AS x")
      .write.mode("overwrite").parquet(dir)
    val jobs = inferenceJobs {
      val again = Tables.parquet(spark, dir)
      assert(again.schema === spark.read.parquet(dir).schema)
      assert(again.orderBy("x").collect().map(_.getDouble(0)).toSeq ===
        Seq(0.0, 0.5, 1.0, 1.5))
    }
    assert(jobs === 1, "the rewritten path was not re-inferred")
    assert(Tables.schemaCacheSize === before, "a rewrite must replace its entry")
    Tables.deleteDir(dir)
  }

  test("both events.ts arms of normalizeTs resolve through the schema cache") {
    import org.apache.spark.sql.types.TimestampType
    // the fixture's TIMESTAMP_NTZ arm, then a TIMESTAMP and a nanos-BIGINT
    // events table; each read twice (the second one a cache hit)
    val micros = Seq(0L, 1700000000123456L)
    val arms = Seq(
      "timestamp_ntz" -> "cast(timestamp_micros(m) AS timestamp_ntz)",
      "timestamp" -> "timestamp_micros(m)",
      "bigint" -> "m * 1000")
    for ((arm, tsExpr) <- arms) {
      val sfDir = tmpDir(s"graft-events-$arm-")
      spark.createDataFrame(micros.zipWithIndex.map { case (m, i) => (i.toLong, m) })
        .toDF("event_id", "m").selectExpr("event_id", s"$tsExpr AS ts")
        .write.parquet(s"$sfDir/events.parquet")
      for (_ <- 1 to 2) {
        val ev = Tables(spark, sfDir, "events")
        assert(ev.schema("ts").dataType === TimestampType, arm)
        assert(ev.orderBy("event_id").select(expr("unix_micros(ts)"))
          .collect().map(_.getLong(0)).toSeq === micros, arm)
      }
      Tables.deleteDir(sfDir)
    }
    val fixture = Tables.events(spark, sf("sf0.01"))
    assert(fixture.schema("ts").dataType === TimestampType)
    assert(Tables.events(spark, sf("sf0.01")).schema === fixture.schema)
  }

  test("replacing one materialize tag 100 times leaves the schema cache bounded") {
    val df = spark.range(2).toDF("id")
    val tag = s"tablesspec-bounded-${java.util.UUID.randomUUID}"
    assert(Tables.materialize(df, tag).count() === 2)
    val size = Tables.schemaCacheSize
    (1 to 100).foreach(_ => Tables.materialize(df, tag))
    assert(Tables.schemaCacheSize === size)
    assert(tempDirsNamed(s"graft-mat-$tag-") === 1)
    // a scratch dir read through Tables.parquet on every call
    val stag = s"tablesspec-scratch-${java.util.UUID.randomUUID}"
    def scratchRead(): Long = {
      val d = Tables.scratch(stag, "bounded")
      df.write.mode("overwrite").parquet(d)
      Tables.parquet(spark, d).count()
    }
    assert(scratchRead() === 2)
    val scratchSize = Tables.schemaCacheSize
    (1 to 100).foreach(_ => assert(scratchRead() === 2))
    assert(Tables.schemaCacheSize === scratchSize)
    assert(tempDirsNamed(s"graft-$stag-") === 1,
      "exactly one scratch dir of the key stays on disk")
  }

  test("a second q_export_manifest or q_shard_sink call adds no temp dir") {
    val dir = sf("sf0.001")
    for ((q, prefix) <- Seq("q_export_manifest" -> "graft-export-",
        "q_shard_sink" -> "graft-shardsink")) {
      SparkEntry.queries(q)(spark, dir).collect()
      val n = tempDirsNamed(prefix)
      SparkEntry.queries(q)(spark, dir).collect()
      assert(tempDirsNamed(prefix) === n, s"$q kept its previous call's dir")
    }
  }

  test("percentileCont equals DuckDB's weighted form on seeded random groups") {
    import spark.implicits._
    // reference: percentile_cont as DuckDB computes it (checked against
    // DuckDB on random double and integer groups)
    def weighted(vs: Seq[Double], q: Double): Double = {
      val s = vs.sorted
      val pos = (s.length - 1) * q
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      if (lo == hi) s(lo) else (hi - pos) * s(lo) + (pos - lo) * s(hi)
    }
    val rnd = new scala.util.Random(485L)
    def price() = math.round(rnd.nextDouble() * 5e7) / 100.0
    // distinct prices, prices from a small pool (repeated neighbours: the
    // case where native percentile skips the interpolation), integers
    val groups = (0 until 600).map { g =>
      val n = 1 + rnd.nextInt(40)
      val pool = Seq.fill(1 + rnd.nextInt(3))(price())
      g -> Seq.fill(n)(g % 3 match {
        case 0 => price()
        case 1 => pool(rnd.nextInt(pool.length))
        case _ => rnd.nextInt(3000).toDouble
      })
    }
    val qs = Seq(0.0, 0.1, 0.25, 0.5, 0.9, 0.99, 1.0)
    val rows = groups.flatMap { case (g, vs) => vs.map(v => (g, v)) }
      .toDF("g", "v")
      // one NULL per group: both forms ignore it
      .union(groups.map(_._1).map(g => (g, Option.empty[Double])).toDF("g", "v"))
    def cols(f: (Column, Double) => Column) =
      qs.zipWithIndex.map { case (q, i) => f(col("v"), q).as(s"p$i") }
    def run(f: (Column, Double) => Column): Map[Int, Seq[Double]] =
      rows.groupBy("g").agg(cols(f).head, cols(f).tail: _*).collect()
        .map(r => r.getInt(0) -> qs.indices.map(i => r.getDouble(i + 1))).toMap
    val ours = run(Tables.percentileCont)
    val native = run((c, q) => expr(s"percentile(v, $q)"))
    var differs = 0
    for ((g, vs) <- groups; (q, i) <- qs.zipWithIndex) {
      val want = weighted(vs, q)
      assert(java.lang.Double.compare(ours(g)(i), want) === 0,
        s"group $g q $q: ${ours(g)(i)} vs $want")
      if (java.lang.Double.compare(native(g)(i), want) != 0) differs += 1
    }
    // the spec is not vacuous: the native form really differs somewhere
    assert(differs > 0, "native percentile matched the weighted form everywhere")
    // an all-NULL group is NULL, like percentile_cont
    val empty = Seq((1, Option.empty[Double])).toDF("g", "v").groupBy("g")
      .agg(cols(Tables.percentileCont).head, cols(Tables.percentileCont).tail: _*)
      .collect().head
    assert(qs.indices.forall(i => empty.isNullAt(i + 1)))
  }

  test("bench summary line fits a 2000-char tail buffer and parses") {
    import spark.implicits._
    // realistic worst case: 3 passes, budget stop, long sf path — the
    // driver keeps only the LAST 2000 stdout chars, so this line (printed
    // last) must fit whole no matter what the full per-query record does
    val line = Bench.summaryJson(
      total = 64.123456789, nQueries = 117, minTotal = 60.3456,
      failedN = 2, skippedN = 14, multiSampledN = 103, passes = 3,
      passesCompleted = 2,
      passTotals = Seq(103.636363, 60.818181, 58.444444),
      passPartial = Seq(false, false, true), budgetSec = 300.0,
      elapsedSec = 287.654, prewarmSec = 9.8765, prewarmOk = true,
      barrierSec = 3.21, inflation = 2.34, lanesN = 57, streamPar = true,
      canaryFactor = 0.523456, ioCanaryFactor = 0.512345,
      sf = "/root/testdata/sf0.1")
    assert(!line.contains("\n") && !line.contains("\r"))
    assert(line.length < 1500, s"summary line too long: ${line.length}")
    val row = spark.read.json(Seq(line).toDS).collect().head
    val schema = spark.read.json(Seq(line).toDS).schema
    def d(f: String) = row.getDouble(schema.fieldIndex(f))
    assert(math.abs(d("value") - 64.123) < 1e-9)
    assert(math.abs(d("min_total") - 60.346) < 1e-9)
    assert(row.getLong(schema.fieldIndex("n_queries")) === 117L)
    assert(row.getLong(schema.fieldIndex("skipped_n")) === 14L)
    assert(row.getLong(schema.fieldIndex("multi_sampled_n")) === 103L)
    assert(row.getString(schema.fieldIndex("sf")) === "/root/testdata/sf0.1")
  }

  test("bench summary line stays under the tail buffer at ANY registry size") {
    // VERDICT r20 item 2: the contract must hold as the registry grows,
    // not just at today's size. The summary line carries NO per-query
    // map, so its only growth vectors are digit counts and pass_totals
    // length — pin the pathological worst case (100k queries, 9 passes,
    // six-figure totals, long sf path) under the driver's 2000-char
    // stdout tail
    val line = Bench.summaryJson(
      total = 999999.999999, nQueries = 100000, minTotal = 999999.999999,
      failedN = 100000, skippedN = 100000, multiSampledN = 100000,
      passes = 9, passesCompleted = 9,
      passTotals = Seq.fill(9)(999999.999999),
      passPartial = Seq.fill(9)(true), budgetSec = 99999.0,
      elapsedSec = 99999.99, prewarmSec = 9999.99, prewarmOk = false,
      barrierSec = 9999.99, inflation = 999.99, lanesN = 100000,
      streamPar = true, canaryFactor = 999.999999,
      ioCanaryFactor = 999.999999,
      sf = "/root/testdata/sf100.0/some/unusually/long/fixture/path")
    assert(!line.contains("\n") && !line.contains("\r"))
    assert(line.length < 2000, s"summary line too long: ${line.length}")
  }

  test("bench JSON escaping survives multi-line exception messages") {
    import spark.implicits._
    val nasty = "line1\nline2\t\"quoted\\path\"\rend"
    val escaped = Bench.jsonStr(nasty)
    // must be one physical line (the bench record is line-oriented)...
    assert(!escaped.contains("\n") && !escaped.contains("\r"))
    // ...and valid JSON: round-trip through a real parser recovers the
    // original message byte-for-byte
    val parsed = spark.read.json(Seq(s"""{"m":$escaped}""").toDS)
      .collect().head.getString(0)
    assert(parsed === nasty)
  }
}
