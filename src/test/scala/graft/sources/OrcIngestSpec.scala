package graft.sources

import org.apache.spark.sql.Row
import graft.SparkSpec

/** ORC round-trip fidelity: unlike CSV (whose `\N` marker makes null vs
  * empty-string reconstruction convention-dependent — CsvIngestSpec),
  * ORC carries nullability structurally, so the edge rows must survive
  * EXACTLY with no marker collisions possible. */
class OrcIngestSpec extends SparkSpec {

  test("null text, empty text, and marker-lookalike text all round-trip") {
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
    val rows = Seq(
      Row(1L, null, "en", "s", 0L),
      Row(2L, "", "en", "s", 0L),
      Row(3L, "\\N", "en", "s", 2L), // the CSV null marker, as literal text
      Row(4L, "line1\nline2, \"quoted\"", "en", "s", 21L))
    val df = spark.createDataFrame(rows.asJava, schema)
    val out = tmpDir("orc-spec-")
    df.write.mode("overwrite").orc(out)
    val back = spark.read.schema(schema).orc(out)
      .collect().sortBy(_.getLong(0))
    assert(back.length === 4)
    assert(back(0).isNullAt(1), "null text must stay null")
    assert(back(1).getString(1) === "", "empty text must stay empty, not null")
    assert(back(2).getString(1) === "\\N", "marker-lookalike text preserved")
    assert(back(3).getString(1) === "line1\nline2, \"quoted\"")
  }
}
