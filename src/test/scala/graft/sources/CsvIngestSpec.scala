package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.SparkSpec

/** Edge-row fidelity of the CSV round-trip options the gate query can't
  * witness (the fixture has no null or empty text rows today — this
  * spec keeps the round-trip honest if it ever gains one): with the
  * default options both NULL and "" serialize to an empty field and the
  * multiLine read resurrects both as NULL, so the shared csvWrite/
  * csvRead helpers pin explicit nullValue/emptyValue markers. */
class CsvIngestSpec extends SparkSpec {

  test("CSV round-trip distinguishes NULL text from empty-string text") {
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType),
      StructField("source", StringType),
      StructField("n_chars", LongType)))
    val rows = Seq(
      Row(1L, null, "en", "web", 0L),
      Row(2L, "", "en", "web", 0L),
      Row(3L, "plain", "de", "book", 5L),
      // the hostile quoting cases the RFC-4180 options exist for
      Row(4L, "line one\nline two", "en", "web", 17L),
      Row(5L, "says \"hi\", twice", "fr", "web", 16L),
      // DOCUMENTED RESIDUAL, pinned below: literal text equal to the
      // null marker reads back as NULL — Spark compares the marker
      // AFTER unquoting, so no quoting scheme can distinguish them.
      // CSV is inherently lossy at exactly this one point; JSONL is
      // the lossless interchange path (JsonlIngest scaladoc).
      Row(6L, "\\N", "en", "web", 2L))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val out = tmpDir("graft-csvtest-")
    CsvIngest.csvWrite(df, out.toString)
    val back = CsvIngest.csvRead(spark,
      "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
      out.toString)
    val got = back.collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getString(1))))
      .sortBy(_._1).toSeq
    val want = rows.map { r =>
      val t = Option(r.getString(1)).filter(_ != "\\N") // marker residual
      (r.getLong(0), t)
    }.sortBy(_._1)
    assert(got === want)
    assert(got(1)._2 === Some("")) // the null-vs-empty distinction held
  }
}
