package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** Pins [[FxQuant]] (the r21 codegen fixed-point quantizer) bit-identical
  * to the transform-lambda formulation it replaced — the ×10⁴ contract
  * shared by ss06/ss07/ss09 and mirrored in their oracles:
  * `transform(embedding, x -> cast(floor(cast(x as double) * 10000) as
  * bigint))` — over the REAL embeddings plus the sign/fraction/null
  * edges floor semantics create.
  */
class FxQuantSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def sqlForm(c: String) = expr(
    s"transform($c, x -> cast(floor(cast(x as double) * 10000) as bigint))")

  test("kernel == transform lambda over the real embeddings") {
    val e = Tables(spark, TestSpark.sf0001, "embeddings")
      .select(col("embedding"))
    val mismatches = e.select(
      GraftFunctions.fx_quant(col("embedding")).as("k"),
      sqlForm("embedding").as("s"))
      .filter(not(col("k") <=> col("s")))
      .count()
    assert(mismatches == 0L, "kernel diverged from the transform lambda")
  }

  test("kernel edges: negatives floor toward -inf, null elements, null array, empty") {
    import spark.implicits._
    val df = Seq(
      Seq[java.lang.Double](1.00005, -1.00005, 0.0, -0.00001),
      Seq[java.lang.Double](0.12345, null, 2.5),
      Seq.empty[java.lang.Double],
      null.asInstanceOf[Seq[java.lang.Double]]).toDF("v")
    val rows = df.select(
      GraftFunctions.fx_quant(col("v")).as("k"), sqlForm("v").as("s"))
      .collect()
    rows.foreach { r =>
      if (r.isNullAt(1)) assert(r.isNullAt(0))
      else assert(r.getSeq[Any](0) == r.getSeq[Any](1), r.toString)
    }
    // the exact floor contract, stated once directly
    assert(rows(0).getSeq[Long](0) == Seq(10000L, -10001L, 0L, -1L))
  }

  /** fx_quant over one array row, through interpreted eval or generated
    * code, as boxed longs (null for a null slot).
    */
  private def quant(elem: DataType, containsNull: Boolean, codegen: Boolean)
      (xs: Any*): Seq[java.lang.Long] = {
    val e = FxQuant(BoundReference(0, ArrayType(elem, containsNull), true))
    val row = InternalRow(new GenericArrayData(xs.toArray))
    val out =
      if (codegen)
        GenerateUnsafeProjection.generate(Seq(e)).apply(row).getArray(0)
      else e.eval(row).asInstanceOf[ArrayData]
    out.toSeq[java.lang.Long](LongType)
  }

  for (codegen <- Seq(true, false)) {
    val mode = if (codegen) "codegen" else "interpreted"

    test(s"$mode: NaN, infinities and BIGINT overflow raise") {
      val bad = Seq[Any](Double.NaN, Double.PositiveInfinity,
        Double.NegativeInfinity, 1e15, -1e15)
      for (x <- bad) intercept[ArithmeticException](
        quant(DoubleType, containsNull = false, codegen)(1.0, x))
      val badF = Seq[Any](Float.NaN, Float.PositiveInfinity,
        Float.NegativeInfinity, 1e15f)
      for (x <- badF) intercept[ArithmeticException](
        quant(FloatType, containsNull = false, codegen)(x))
    }

    test(s"$mode: products just inside the BIGINT range still quantize") {
      assert(quant(DoubleType, containsNull = true, codegen)(9.2e14, -9.2e14,
        null) == Seq[java.lang.Long](9200000000000000000L,
          -9200000000000000000L, null))
    }
  }

  test("interpreted: a null slot stays null under containsNull=false") {
    assert(quant(DoubleType, containsNull = false, codegen = false)(
      null, 1.0) == Seq[java.lang.Long](null, 10000L))
  }
}
