package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions wiring: registers graft's native expressions as
  * SQL functions so `spark.sql("SELECT decimal_dot(a, b) ...")` works.
  *
  * Use at session build time:
  *   SparkSession.builder().withExtensions(new GraftExtensions)
  * or via config:
  *   spark.sql.extensions=graft.functions.GraftExtensions
  * or post-hoc on a live session: GraftExtensions.register(spark).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
}

object GraftExtensions {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", "", name, usage, "", "", "", "", "", "", "built-in")

  /** Foldable-int extraction for knob arguments: SQL callers pass the
    * winnow k/w as literals (`winnow_fingerprints(text, 12, 8)`). */
  private def intArg(e: Expression, fn: String, arg: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal, got $other")
  }

  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      ("decimal_dot",
        info("decimal_dot",
          "decimal_dot(a, b) - exact-decimal dot product of float arrays"),
        (args: Seq[Expression]) => DecimalDotProduct(args(0), args(1))),
      ("float_dot",
        info("float_dot",
          "float_dot(a, b) - double-precision dot product of float arrays"),
        (args: Seq[Expression]) => MixedDotProduct(args(0), args(1))),
      ("winnow_fingerprints",
        info("winnow_fingerprints",
          "winnow_fingerprints(text, k, w) - SIGMOD'03 robust winnowing " +
            "fingerprints (array<bigint>) of character k-grams, window w"),
        (args: Seq[Expression]) => WinnowFingerprints(args(0),
          intArg(args(1), "winnow_fingerprints", "k"),
          intArg(args(2), "winnow_fingerprints", "w"))),
      ("winnow_fingerprint_positions",
        info("winnow_fingerprint_positions",
          "winnow_fingerprint_positions(text, k, w) - winnowing " +
            "fingerprints with k-gram offsets (array<struct<fp,pos>>)"),
        (args: Seq[Expression]) => WinnowFingerprintPositions(args(0),
          intArg(args(1), "winnow_fingerprint_positions", "k"),
          intArg(args(2), "winnow_fingerprint_positions", "w"))),
      ("simhash64",
        info("simhash64",
          "simhash64(hash_col) - 64-bit SimHash aggregate over per-token " +
            "hashes (bit votes; use with GROUP BY doc)"),
        (args: Seq[Expression]) => SimHashAgg(args(0))
          .toAggregateExpression()))

  /** Register on an already-built session (temp functions). */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "scala_udf")
    }
}
