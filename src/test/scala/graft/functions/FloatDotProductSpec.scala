package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.SparkSpec
import MixedDotProduct.mixedDot

class FloatDotProductSpec extends SparkSpec {

  private def randomPairs(n: Int) = {
    val rnd = new scala.util.Random(7)
    val schema = StructType(Seq(
      StructField("a", ArrayType(FloatType)),
      StructField("b", ArrayType(FloatType))))
    val rows = (1 to n).map(_ => Row(
      Array.fill(64)(rnd.nextFloat() - 0.5f),
      Array.fill(64)(rnd.nextFloat() - 0.5f)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
  }

  test("codegen path equals the HOF double pipeline bit-for-bit") {
    val hof = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      aggregate(zip_with(a, b,
        (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x)
    val bad = randomPairs(500)
      .select(hof(col("a"), col("b")).as("ref"),
        mixedDot(col("a"), col("b")).as("fast"))
      .filter(col("ref") =!= col("fast")).count()
    assert(bad === 0L)
  }

  test("MixedDotProduct rejects non-float/double arrays at analysis time") {
    // an ARRAY<INT> child used to slip through and be READ at float
    // width (garbage values, no error) — must now fail analysis
    val ints = spark.range(4)
      .select(array(col("id").cast("int")).as("a"),
        array(col("id").cast("int")).as("b"))
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      ints.select(mixedDot(col("a"), col("b"))).collect()
    }
    assert(ex.getMessage.toLowerCase.contains("mixed_dot"))
    // and a non-array child fails too
    val scalars = spark.range(4).select(col("id"), col("id").as("b"))
    intercept[org.apache.spark.sql.AnalysisException] {
      scalars.select(mixedDot(col("id"), col("b"))).collect()
    }
    // while the four legitimate width combinations still work
    val mixed = spark.range(4).select(
      array(col("id").cast("float")).as("f"),
      array(col("id").cast("double")).as("d"))
    val row = mixed.select(
      mixedDot(col("f"), col("f")).as("ff"),
      mixedDot(col("f"), col("d")).as("fd"),
      mixedDot(col("d"), col("f")).as("df"),
      mixedDot(col("d"), col("d")).as("dd")).orderBy(col("ff")).collect()
    assert(row.length === 4)
  }

  test("codegen and interpreted eval agree (fallback parity)") {
    val df = randomPairs(200).select(mixedDot(col("a"), col("b")).as("d"))
    val withCodegen = df.collect().map(_.getDouble(0)).toSeq
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interpreted = df.collect().map(_.getDouble(0)).toSeq
      assert(withCodegen === interpreted)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }
}
