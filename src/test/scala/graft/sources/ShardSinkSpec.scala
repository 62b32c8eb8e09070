package graft.sources

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** ShardStoreSink transactional-publish pins: exact round trip,
  * EXACTLY-ONCE under a task retry (the attempt-unique staging +
  * winner-only publish), and atomic abort (failed job → no manifest).
  * The shared test session runs local[8, 2] (one retry allowed), which
  * is what makes the retry path witnessable. */
class ShardSinkSpec extends SparkSpec {

  private def docs = graft.Tables(spark, sf("sf0.001"), "documents")
    .select(col("doc_id"), col("text").as("payload"))

  private def freshDir(): String =
    graft.Tables.scratch("shardspec", java.util.UUID.randomUUID.toString)

  test("round trip is exact (ids and payload bytes)") {
    val out = freshDir()
    docs.repartition(4, col("doc_id")).write
      .format("graft.sources.ShardStoreSink")
      .option("path", out).mode("overwrite").save()
    val back = ShardStoreSink.read(spark, out)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val want = docs.collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1)
    assert(back.toSeq === want.toSeq)
    assert(!Files.exists(Paths.get(out, "_staging")), "staging left behind")
  }

  test("payload encoding survives tabs, newlines, unicode, empties") {
    import spark.implicits._
    val rows = Seq((1L, "tab\there"), (2L, "nl\nthere\r\nend"),
      (3L, "uni ♞ ü 中文"), (4L, ""),
      (5L, "back\\slash\tand\nall"))
    val out = freshDir()
    rows.toDF("doc_id", "payload").repartition(2).write
      .format("graft.sources.ShardStoreSink")
      .option("path", out).mode("overwrite").save()
    val back = ShardStoreSink.read(spark, out)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(back.toSeq === rows.sortBy(_._1))
  }

  test("task retry publishes exactly once (no duplicate, no orphan)") {
    val out = freshDir()
    ShardSinkSpec.trip.set(false)
    val failing = docs.repartition(3, col("doc_id"))
      .map { r =>
        // first row seen anywhere fails its task ONCE; the retry runs
        // clean — local-mode static state, deliberate
        if (ShardSinkSpec.trip.compareAndSet(false, true))
          throw new RuntimeException("injected task failure")
        r
      }(org.apache.spark.sql.Encoders.row(docs.schema))
    failing.write.format("graft.sources.ShardStoreSink")
      .option("path", out).mode("overwrite").save()
    assert(ShardSinkSpec.trip.get, "injection never fired")
    val back = ShardStoreSink.read(spark, out)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val want = docs.collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1)
    assert(back.toSeq === want.toSeq, "retry duplicated or lost rows")
    assert(!Files.exists(Paths.get(out, "_staging")),
      "loser attempt's staging survived commit")
    val shards = new java.io.File(out).listFiles()
      .map(_.getName).filter(_.startsWith("v00001-shard-")).sorted
    assert(shards.length === 3, s"expected 3 shards, got ${shards.toSeq}")
  }

  test("time travel: old snapshot byte-stable after a second commit") {
    val out = freshDir()
    val evens = docs.filter(col("doc_id") % 2 === 0)
    evens.repartition(3, col("doc_id")).write
      .format("graft.sources.ShardStoreSink")
      .option("path", out).mode("overwrite").save()
    def v1Bytes(): Map[String, Seq[Byte]] =
      new java.io.File(out).listFiles()
        .filter(f => f.getName.startsWith("v00001-") ||
          f.getName == "manifest-v00001.json")
        .map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap
    val before = v1Bytes()
    assert(before.keySet.exists(_.endsWith(".json")), "no v1 manifest")
    docs.repartition(3, col("doc_id")).write
      .format("graft.sources.ShardStoreSink")
      .option("path", out).mode("overwrite").save()
    // the second commit touched NOTHING of version 1
    assert(v1Bytes() === before, "v1 files changed under the v2 commit")
    // AS OF 1 returns exactly the first snapshot; latest = snapshot 2
    val asOf1 = ShardStoreSink.readAsOf(spark, out, 1)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val wantEvens = evens.collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(asOf1.toSeq === wantEvens.toSeq)
    val latest = ShardStoreSink.read(spark, out)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val wantAll = docs.collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(latest.toSeq === wantAll.toSeq)
    // a pinned read of a never-committed version refuses loudly
    intercept[IllegalArgumentException] {
      ShardStoreSink.readAsOf(spark, out, 3)
    }
  }

  test("vacuum drops old snapshots physically, keeps the rest byte-stable") {
    val out = freshDir()
    val evens = docs.filter(col("doc_id") % 2 === 0)
    val odds = docs.filter(col("doc_id") % 2 === 1)
    for (s <- Seq(evens, odds, docs))
      s.repartition(2, col("doc_id")).write
        .format("graft.sources.ShardStoreSink")
        .option("path", out).mode("overwrite").save()
    def files(prefix: String): Seq[String] =
      new java.io.File(out).listFiles().map(_.getName)
        .filter(_.startsWith(prefix)).toSeq
    val keptBefore = (files("v00002-") ++ files("v00003-") ++
      files("manifest-v00002") ++ files("manifest-v00003"))
      .map(n => n -> Files.readAllBytes(Paths.get(out, n)).toSeq).toMap
    assert(ShardStoreSink.vacuum(out, keep = 2) === Seq(1))
    assert(files("v00001-").isEmpty && files("manifest-v00001").isEmpty,
      "v1 survived the vacuum")
    val keptAfter = keptBefore.keySet
      .map(n => n -> Files.readAllBytes(Paths.get(out, n)).toSeq).toMap
    assert(keptAfter === keptBefore, "vacuum touched a kept snapshot")
    intercept[IllegalArgumentException] {
      ShardStoreSink.readAsOf(spark, out, 1)
    }
    val back = ShardStoreSink.readAsOf(spark, out, 2)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(back.toSeq === odds.collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq)
    // idempotent / bounded
    assert(ShardStoreSink.vacuum(out, keep = 2) === Seq.empty)
    intercept[IllegalArgumentException] { ShardStoreSink.vacuum(out, 0) }
  }

  test("q_index_asof: pinned index snapshot is exact while v2 exists") {
    val dir = sf("sf0.001")
    val rows = graft.ops.Vectors.qIndexAsof(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.map(_._1).toSeq === Seq(1, 2))
    val Array(v1, v2) = rows
    // the pinned v1 read returns exactly the quantizer as built: its
    // quantized component checksum must equal a driver-side recompute
    // straight from the trained centroid array
    val cents = graft.ops.Vectors.ivfCentroids(spark, dir)
    val wantQ = cents.map(_.map(v =>
      math.floor(v * 1048576.0).toLong).sum).sum
    assert(v1._2 === cents.length.toLong, "v1 row per centroid")
    assert(v1._3 === (0 until cents.length).map(_.toLong).sum, "v1 id sum")
    assert(v1._4 === wantQ, "v1 quantized centroid checksum")
    assert(v1._5 === 0L, "v1 has no stats rows")
    // v2 = same centroids + per-list stats: centroid checksum identical
    // (the old snapshot's content is byte-stable), stats weighted sum
    // covers every embedding exactly once
    assert(v2._4 === wantQ, "v2 centroid rows drifted from v1")
    assert(v2._2 > v1._2, "v2 must add stats rows")
    assert(v2._5 > 0L, "v2 stats witness empty")
  }

  test("q_index_vacuum: v1 reclaimed + refused, v2 witness byte-unchanged") {
    val dir = sf("sf0.001")
    // reference witnesses for the surviving snapshot: q_index_asof's v2
    // row (same publish flow, vacuum must not change any of it)
    val asof = graft.ops.Vectors.qIndexAsof(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).find(_._1 == 2).get
    val rows = graft.ops.Vectors.qIndexVacuum(spark, dir).collect()
    assert(rows.length === 1)
    val r = rows.head
    assert(r.getInt(0) === 2, "surviving version")
    assert(r.getInt(1) === 1, "exactly one version dropped")
    assert(r.getInt(2) === 1, "v1 AS-OF read must refuse after vacuum")
    assert((r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)) ===
      ((asof._2, asof._3, asof._4, asof._5)),
      "v2 witnesses drifted under the vacuum")
  }

  test("a failed job publishes NOTHING (no manifest)") {
    val out = freshDir()
    val alwaysFail = docs.map { r =>
      throw new RuntimeException("persistent failure"); r
    }(org.apache.spark.sql.Encoders.row(docs.schema))
    intercept[Exception] {
      alwaysFail.write.format("graft.sources.ShardStoreSink")
        .option("path", out).mode("overwrite").save()
    }
    val manifests = Option(new java.io.File(out).listFiles())
      .getOrElse(Array.empty).map(_.getName)
      .filter(n => n.startsWith("manifest-v") && n.endsWith(".json"))
    assert(manifests.isEmpty,
      s"manifest published despite job failure: ${manifests.toSeq}")
  }
}

object ShardSinkSpec {
  val trip = new AtomicBoolean(false)
}
