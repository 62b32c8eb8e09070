package graft.ops

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

/** Source/sink coverage beyond parquet: csv and json round-trips with
  * explicit schemas (the reference's only format is newline text, §1.1 —
  * these are the structured-format equivalents a real pipeline needs). */
class SourcesSpec extends SparkSpec {

  test("csv round-trip preserves rows and types (header + explicit schema)") {
    val out = tmpDir("csv-out") + "/orders"
    val src = Tables(spark, sf("sf0.001"), "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate").cast("date").as("o_date"))
    src.write.mode("overwrite").option("header", "true").csv(out)
    val back = spark.read
      .schema("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
        "o_totalprice DOUBLE, o_date DATE")
      .option("header", "true").csv(out)
    assert(back.count() === src.count())
    val a = src.orderBy("o_orderkey").collect().map(_.toSeq)
    val b = back.orderBy("o_orderkey").collect().map(_.toSeq)
    assert(a === b)
  }

  test("json lines round-trip preserves rows, nested props parse") {
    val out = tmpDir("json-out") + "/events"
    val src = Tables(spark, sf("sf0.001"), "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("props"))
    src.write.mode("overwrite").json(out)
    val back = spark.read
      .schema("event_id BIGINT, user_id BIGINT, event_type STRING, " +
        "value DOUBLE, props STRING")
      .json(out)
    assert(back.count() === src.count())
    // the JSON-in-JSON props column still parses downstream
    val k = back.select(
      get_json_object(col("props"), "$.k").cast("long").as("k"))
    assert(k.filter(col("k").isNotNull).count() === src.count())
  }

  test("orc round-trip preserves rows and types") {
    val out = tmpDir("orc-out") + "/customer"
    val src = Tables(spark, sf("sf0.001"), "customer")
    src.write.mode("overwrite").orc(out)
    val back = spark.read.orc(out)
    assert(back.count() === src.count())
    assert(back.schema === src.schema)
    val a = src.orderBy("c_custkey").collect().map(_.toSeq)
    val b = back.orderBy("c_custkey").collect().map(_.toSeq)
    assert(a === b)
  }

  test("text sink + source round-trip (the reference's native format)") {
    val out = tmpDir("text-out") + "/words"
    val src = Tables(spark, sf("sf0.001"), "documents")
      .select(concat(col("doc_id"), lit("\t"), col("lang")).as("value"))
    src.write.mode("overwrite").text(out)
    val back = spark.read.text(out)
    assert(back.count() === src.count())
    assert(back.filter(col("value").contains("\t")).count() === src.count())
  }
}
