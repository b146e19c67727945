package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** Pins [[DeletionVariants]] (the r21 codegen deletion-neighborhood
  * kernel) bit-identical to the SQL formulation it replaced — er01's
  * candidate generation: `array_union(array(name),
  * transform(sequence(1, length(name)), i -> concat(substring(name, 1,
  * i - 1), substring(name, i + 1, length(name)))))` — over the REAL
  * customer names plus the dedup/order edges array_union's semantics
  * create (repeated characters collapse to one deletion, first occurrence
  * wins, the name itself leads).
  */
class DeletionVariantsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val sqlForm = expr(
    """array_union(array(nm),
      | transform(sequence(1, length(nm)),
      |   i -> concat(substring(nm, 1, i - 1),
      |     substring(nm, i + 1, length(nm)))))""".stripMargin)

  test("kernel == SQL formulation over the real customer names") {
    val names = Tables(spark, TestSpark.sf0001, "customer")
      .select(col("c_name").as("nm"))
    val mismatches = names.select(
      GraftFunctions.deletion_variants(col("nm")).as("k"), sqlForm.as("s"))
      .filter(not(col("k") <=> col("s")))
      .count()
    assert(mismatches == 0L, "kernel diverged from the SQL form")
  }

  test("kernel edge cases: repeats dedup, single char, empty, null, unicode") {
    import spark.implicits._
    val df = Seq("aa", "aba", "a", "", "abc", "héllo", "día")
      .toDF("nm")
    val rows = df.select(col("nm"),
      GraftFunctions.deletion_variants(col("nm")).as("k"), sqlForm.as("s"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2), s"name=${r.get(0)}")
    }
    // the exact dedup/order contract, stated once directly: name first,
    // deletions in position order, duplicates collapsed to the first
    assert(rows.find(_.getString(0) == "aa").get.getSeq[String](1)
      == Seq("aa", "a"))
    assert(rows.find(_.getString(0) == "aba").get.getSeq[String](1)
      == Seq("aba", "ba", "aa", "ab"))
    // null name -> null, like array_union over the null-propagated branch
    val n = Seq(null.asInstanceOf[String]).toDF("nm")
      .select(GraftFunctions.deletion_variants(col("nm")).as("k")).collect()(0)
    assert(n.isNullAt(0))
  }

  test("a non-binary collation (UTF8_LCASE) fails analysis, for " +
    "deletion_variants and word_bigrams alike") {
    // a fresh session: the shared one's observation listener logs a stack
    // trace for every failed analysis
    val fresh = spark.newSession()
    import fresh.implicits._
    val df = Seq("Ab").toDF("nm")
    val lcase = expr("nm COLLATE UTF8_LCASE")
    val e1 = intercept[org.apache.spark.sql.AnalysisException](
      df.select(GraftFunctions.deletion_variants(lcase)))
    assert(e1.getMessage.contains("binary-collation"), e1.getMessage)
    val e2 = intercept[org.apache.spark.sql.AnalysisException](
      df.select(GraftFunctions.word_bigrams(array(lcase, lcase))))
    assert(e2.getMessage.contains("binary"), e2.getMessage)
    // the default collation, spelled out, still passes
    val bin = expr("nm COLLATE UTF8_BINARY")
    assert(df.select(GraftFunctions.deletion_variants(bin)).head()
      .getSeq[String](0) == Seq("Ab", "b", "A"))
  }
}
