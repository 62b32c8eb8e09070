package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{CreateArray, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType
import graft.SparkSpec

/** Plan-size pin for the vector stack's codebook sites: every centroid,
  * codeword and hyperplane matrix enters the plan as ONE literal, so no
  * per-element `lit` tree can creep back (such trees were thousands of
  * expression nodes at nlist=1024). */
class CodebookPlanSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  /** (expression nodes, 2-D array literals, 1-D array literals,
    * all-foldable `array(...)` trees) over every node of the analyzed plan. */
  private def shape(df: DataFrame): (Int, Int, Int, Int) = {
    val exprs = df.queryExecution.analyzed.collect { case n => n.expressions }.flatten
    def count(pf: PartialFunction[org.apache.spark.sql.catalyst.expressions.Expression, Unit]) =
      exprs.map(_.collect(pf).size).sum
    (count { case _ => () },
      count { case Literal(_, ArrayType(ArrayType(_, _), _)) => () },
      count { case Literal(_, ArrayType(e, _)) if !e.isInstanceOf[ArrayType] => () },
      count { case c: CreateArray if c.children.nonEmpty && c.children.forall(_.foldable) => () })
  }

  private def pin(name: String, df: DataFrame, matrices: Int, vectors: Int): Unit = {
    val (nodes, m, v, trees) = shape(df)
    info(s"$name: $nodes expression nodes, $m matrix literals, $v vector literals")
    assert(m === matrices, s"$name: matrix literals")
    assert(v === vectors, s"$name: vector (norm) literals")
    assert(trees === 0, s"$name: literal array trees")
    assert(nodes < 200, s"$name: $nodes expression nodes")
  }

  test("codebook sites carry one literal per matrix and a small plan at nlist=1024") {
    val emb = Vectors.sharedEmb(spark, dir)
    // annTable at its default knobs: 8 tables × 6 planes, 3 probe flips
    pin("annTable", Vectors.annTableOf(emb, 8, 6, 3), matrices = 1, vectors = 0)
    val cs = Array.tabulate(1024, 64)((i, d) =>
      Vectors.planeSign(i, d).toDouble * ((i % 7) + 1) / 7.0)
    pin("ivfAssigned", Vectors.withCid(emb, cs), matrices = 1, vectors = 1)
    pin("ivfProbes", Vectors.probesOf(emb, cs, 6), matrices = 1, vectors = 1)
    val books = Array.tabulate(8, 16, 8)((s, c, d) =>
      Vectors.planeSign(s * 16 + c, d).toDouble / (c + 1))
    val assigned = emb.withColumn("cid", (col("vec_id") % 1024).cast("int"))
    // the residual's centroid matrix + one codebook per subspace, each
    // with its norm vector
    pin("pqCodes", Vectors.pqEncode(Vectors.withResidual(assigned, cs), books),
      matrices = 9, vectors = 8)
    // and the plans still run
    assert(Vectors.pqEncode(Vectors.withResidual(assigned, cs), books).count() ===
      emb.count())
  }
}
