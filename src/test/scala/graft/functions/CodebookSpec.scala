package graft.functions

import org.apache.spark.sql.{AnalysisException, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

class CodebookSpec extends SparkSpec {

  /** Float/double element arrays with NULLs (boxed null = SQL NULL). */
  private type Vec = Seq[java.lang.Double]

  private def randVec(rnd: scala.util.Random, n: Int, asFloat: Boolean,
      nullRate: Double): Vec =
    Seq.fill(n) {
      if (rnd.nextDouble() < nullRate) null
      else {
        val v = rnd.nextGaussian()
        java.lang.Double.valueOf(if (asFloat) v.toFloat.toDouble else v)
      }
    }

  /** Driver-side reference: MixedDotProduct's sequential sum, NULL pairs
    * skipped, length min(|x|, |row|). */
  private def refDot(x: Vec, row: Vec): Double = {
    var acc = 0.0
    for (j <- 0 until math.min(x.length, row.length))
      if (x(j) != null && row(j) != null) acc += x(j) * row(j)
    acc
  }

  private def refNearest(x: Vec, xn2: Double, m: Seq[Vec], mn2: Seq[Double],
      k: Int): Seq[Int] =
    m.indices.map(i => ((xn2 + mn2(i)) - 2.0 * refDot(x, m(i)), i))
      .sortWith { case ((da, ia), (db, ib)) =>
        val c = SQLOrderingUtil.compareDoubles(da, db)
        c < 0 || c == 0 && ia < ib
      }.take(k).map(_._2)

  private def arrayData(v: Vec, asFloat: Boolean): ArrayData =
    new GenericArrayData(v.map[Any](d =>
      if (d == null) null
      else if (asFloat) (d.floatValue(): Any) else (d.doubleValue(): Any)).toArray)

  private def elemType(asFloat: Boolean) = if (asFloat) FloatType else DoubleType

  private def matrixLit(m: Seq[Vec], asFloat: Boolean): Literal =
    Literal.create(new GenericArrayData(m.map(r =>
        if (r == null) null else arrayData(r, asFloat)).toArray[Any]),
      ArrayType(ArrayType(elemType(asFloat), true), true))

  /** Interpreted eval and the generated projection of `e` over `row`. */
  private def bothPaths(e: Expression, row: InternalRow): (Any, Any) = {
    val interp = e.eval(row) match {
      case a: ArrayData => a.copy()
      case other => other
    }
    val proj = GenerateUnsafeProjection.generate(Seq(e))
    val out = proj(row)
    (interp, if (out.isNullAt(0)) null else out.getArray(0).copy())
  }

  private def doubles(a: Any): Seq[java.lang.Double] = {
    val d = a.asInstanceOf[ArrayData]
    (0 until d.numElements()).map(i =>
      if (d.isNullAt(i)) null else java.lang.Double.valueOf(d.getDouble(i)))
  }

  private def ints(a: Any): Seq[Int] =
    a.asInstanceOf[ArrayData].toIntArray().toSeq

  private def bits(v: Seq[java.lang.Double]): Seq[Any] =
    v.map(d => if (d == null) null else java.lang.Double.doubleToRawLongBits(d))

  test("codebook_dot and codebook_nearest equal the reference on seeded matrices, codegen = interpreted") {
    val rnd = new scala.util.Random(485)
    for {
      xFloat <- Seq(true, false)
      mFloat <- Seq(true, false)
      (rows, dim) <- Seq((16, 64), (7, 8), (1030, 64))
    } {
      val nullRate = if (rows == 1030) 0.0 else 0.05
      val m = Seq.fill(rows)(randVec(rnd, dim, mFloat, nullRate))
      // exact ties: a duplicated row has an identical distance
      val mt = if (rows > 2) m.updated(rows - 1, m(1)) else m
      val mn2 = mt.map(r => r.filter(_ != null).map(v => v * v).sum)
      val mLit = matrixLit(mt, mFloat)
      val nLit = Literal.create(new GenericArrayData(mn2.toArray[Any]),
        ArrayType(DoubleType, false))
      for (trial <- 0 until 6) {
        // shorter x exercises min(|x|, |row|)
        val x = randVec(rnd, if (trial == 5) dim - 3 else dim, xFloat, nullRate)
        val xn2 = x.filter(_ != null).map(v => v * v).sum
        val row = InternalRow(arrayData(x, xFloat), xn2)
        val xRef = BoundReference(0, ArrayType(elemType(xFloat), true), true)
        val n2Ref = BoundReference(1, DoubleType, true)
        val want = mt.map(r => java.lang.Double.valueOf(refDot(x, r)))
        val (di, dg) = bothPaths(CodebookDot(xRef, mLit), row)
        assert(bits(doubles(di)) === bits(want), s"dot interpreted $rows×$dim")
        assert(bits(doubles(dg)) === bits(want), s"dot codegen $rows×$dim")
        for (k <- Seq(1, 6, rows, rows + 5)) {
          val e = CodebookNearest(xRef, n2Ref, mLit, nLit, k)
          val (ni, ng) = bothPaths(e, row)
          val wantK = refNearest(x, xn2, mt, mn2, k)
          assert(ints(ni) === wantK, s"nearest interpreted $rows×$dim k=$k")
          assert(ints(ng) === wantK, s"nearest codegen $rows×$dim k=$k")
        }
      }
    }
  }

  test("NULL pairs are skipped; doubles order as Spark's struct ordering: -0.0 = 0.0, NaN last") {
    // skipped, not multiplied by zero: an infinite or NaN element facing
    // a NULL leaves the sum finite
    val xs = Seq[java.lang.Double](Double.PositiveInfinity, 1.0, null)
    val dot = CodebookDot(BoundReference(0, ArrayType(DoubleType, true), true),
      matrixLit(Seq(Seq[java.lang.Double](null, 2.0, Double.NaN)), asFloat = false))
    val (di, dg) = bothPaths(dot, InternalRow(arrayData(xs, asFloat = false)))
    assert(doubles(di) === Seq(2.0))
    assert(doubles(dg) === Seq(2.0))
    // d0 = (−0 + 0) − 0 = 0.0, d1 = (−0 + −0) − 0 = −0.0, d2 = NaN, d3 = 1.0
    val x = Seq[java.lang.Double](0.0, 0.0)
    val m = Seq.fill(4)(Seq[java.lang.Double](1.0, 1.0))
    val mn2 = Seq(0.0, -0.0, Double.NaN, 1.0)
    val e = CodebookNearest(
      BoundReference(0, ArrayType(DoubleType, true), true),
      BoundReference(1, DoubleType, true), matrixLit(m, asFloat = false),
      Literal.create(new GenericArrayData(mn2.toArray[Any]),
        ArrayType(DoubleType, false)), 4)
    val row = InternalRow(arrayData(x, asFloat = false), -0.0)
    val (ni, ng) = bothPaths(e, row)
    assert(ints(ni) === Seq(0, 1, 3, 2))
    assert(ints(ng) === Seq(0, 1, 3, 2))
    assert(refNearest(x, -0.0, m, mn2, 4) === Seq(0, 1, 3, 2))
    // Spark's own array_sort over (d, id) structs agrees
    val sorted = spark.range(1).select(array_sort(array(
      mn2.zipWithIndex.map { case (n, i) =>
        struct(((lit(-0.0) + lit(n)) - lit(2.0) * lit(0.0)).as("d"), lit(i).as("i"))
      }: _*)).as("s")).head().getSeq[Row](0).map(_.getInt(1))
    assert(sorted === Seq(0, 1, 3, 2))
  }

  test("DataFrame path: typedLit matrices, NULL x, NULL rows") {
    val rnd = new scala.util.Random(7)
    val m = Array.fill(20, 8)(rnd.nextGaussian().toFloat)
    val mn2 = m.map(_.map(v => v.toDouble * v).sum)
    val schema = StructType(Seq(StructField("x", ArrayType(FloatType, true)),
      StructField("n2", DoubleType)))
    val xs = Seq.fill(50)(Array.fill(8)(rnd.nextGaussian().toFloat))
    val rows = xs.map(x => Row(x.toSeq, x.map(v => v.toDouble * v).sum)) :+ Row(null, null)
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    val got = df.select(col("x"),
        Codebook.dot(col("x"), typedLit(m)).as("dot"),
        Codebook.nearest(col("x"), col("n2"), typedLit(m), typedLit(mn2), 3).as("nn"))
      .collect()
    assert(got.length === 51)
    got.foreach { r =>
      if (r.isNullAt(0)) assert(r.isNullAt(1) && r.isNullAt(2))
      else {
        val x = r.getSeq[Float](0).map(v => java.lang.Double.valueOf(v.toDouble))
        val mv = m.toSeq.map(_.toSeq.map(v => java.lang.Double.valueOf(v.toDouble)))
        assert(r.getSeq[Double](1) === mv.map(refDot(x, _)))
        val xn2 = r.getSeq[Float](0).map(v => v.toDouble * v).sum
        assert(r.getSeq[Int](2) === refNearest(x, xn2, mv, mn2.toSeq, 3))
      }
    }
    // a NULL matrix row has no pairs: dot 0.0, and it ranks by mNorm2
    val withNullRow = typedLit(Array[Array[java.lang.Double]](
      Array(1.0, 2.0), null, Array(3.0, null)))
    val one = typedLit(Array(1.0, 1.0))
    val d = spark.range(1).select(Codebook.dot(one, withNullRow),
        Codebook.nearest(one, lit(2.0), withNullRow, typedLit(Array(5.0, -1.5, 9.0)), 3))
      .head()
    assert(d.getSeq[Double](0) === Seq(3.0, 0.0, 3.0))
    assert(d.getSeq[Int](1) === Seq(1, 0, 2)) // d = 1.0, 0.5, 5.0
  }

  test("a non-literal matrix or a bad mNorm2 or k is rejected at analysis") {
    val df = spark.range(3).select(array(lit(1.0f), lit(2.0f)).as("x"),
      array(array(col("id").cast("float"), lit(0.0f))).as("m"))
    val e1 = intercept[AnalysisException] {
      df.select(Codebook.dot(col("x"), col("m"))).collect()
    }
    assert(e1.getMessage.contains("codebook_dot"))
    val e2 = intercept[AnalysisException] {
      df.select(Codebook.nearest(col("x"), lit(5.0), col("m"),
        typedLit(Array(1.0)), 1)).collect()
    }
    assert(e2.getMessage.contains("codebook_nearest"))
    val m = typedLit(Array(Array(1.0f, 0.0f), Array(0.0f, 1.0f)))
    intercept[AnalysisException] {
      df.select(Codebook.nearest(col("x"), lit(5.0), m,
        typedLit(Array(1.0)), 1)).collect() // one norm for two rows
    }
    intercept[AnalysisException] {
      df.select(Codebook.nearest(col("x"), lit(5.0), m,
        typedLit(Array[java.lang.Double](1.0, null)), 1)).collect() // a NULL norm
    }
    intercept[AnalysisException] {
      df.select(Codebook.nearest(col("x"), lit(5.0), m,
        typedLit(Array(1.0, 1.0)), 0)).collect()
    }
    assert(df.select(Codebook.nearest(col("x"), lit(5.0), m,
      typedLit(Array(1.0, 1.0)), 1)).collect().map(_.getSeq[Int](0)).toSeq
      === Seq.fill(3)(Seq(1)))
  }
}
