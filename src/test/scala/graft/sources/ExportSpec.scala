package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** File-level contract of the sharded export sink (the parts the
  * deterministic manifest query can't cover: shard size caps, partition
  * layout, lossless roundtrip). */
class ExportSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  test("export shards respect the per-file row cap and partition layout") {
    val out = java.nio.file.Paths.get(tmpDir("graft-exporttest-"))
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"))
    val cap = 20
    val back = CorpusExport.exportSharded(docs, out.toString, Seq("lang"), cap)

    // lossless roundtrip (partition column round-trips through the path)
    val a = docs.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
    val b = back.select("doc_id", "text", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
    assert(a.toSeq === b.toSeq)

    // hive layout: one dir per lang, nothing else at the top level
    val langs = docs.select("lang").distinct().collect().map(_.getString(0)).toSet
    val dirs = out.toFile.listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(dirs === langs.map(l => s"lang=$l"))

    // every parquet file holds at most `cap` rows
    val files = dirs.flatMap(d =>
      new java.io.File(out.toFile, d).listFiles()
        .filter(f => f.getName.endsWith(".parquet")).map(f => (d, f)))
    assert(files.nonEmpty)
    files.foreach { case (d, f) =>
      val n = spark.read.parquet(f.getAbsolutePath).count()
      assert(n <= cap, s"$d/${f.getName} has $n rows > cap $cap")
    }
    // the cap actually bit somewhere (some lang has > cap docs)
    assert(files.groupBy(_._1).exists(_._2.size > 1), "cap never forced a split")

    // manifest counts = per-partition row counts
    val m = CorpusExport.manifest(spark, out.toString, Seq("lang")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val expect = docs.groupBy("lang").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(m === expect)

    org.apache.commons.io.FileUtils.deleteDirectory(out.toFile)
  }
}
