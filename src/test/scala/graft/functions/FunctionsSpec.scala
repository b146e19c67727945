package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

class FunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("cnpj check-digit algorithm: known valid/invalid numbers") {
    assert(Cnpj.isValidStr("11222333000181")) // canonical example
    assert(Cnpj.isValidStr("11.222.333/0001-81")) // formatted
    assert(!Cnpj.isValidStr("11222333000182")) // wrong dv
    assert(!Cnpj.isValidStr("00000000000000")) // repeated digits
    assert(!Cnpj.isValidStr("1122233300018")) // 13 digits
    assert(!Cnpj.isValidStr(null))
    // only the known separators may ride along: junk whose embedded
    // digits happen to check out must NOT validate (r14 review)
    assert(!Cnpj.isValidStr("11x222x333x0001x81"))
    assert(!Cnpj.isValidStr("CNPJ: 11.222.333/0001-81")) // letters + colon
    assert(Cnpj.isValidStr(" 11.222.333/0001-81 ")) // spaces are separators
    // generator round-trips through the validator
    (0 until 50).foreach { i =>
      val prefix = f"${i * 7919 + 13}%012d"
      assert(Cnpj.isValidStr(prefix + Cnpj.checkDigits(prefix)))
    }
  }

  test("cnpj_valid works as a Column and as a SQL function") {
    import spark.implicits._
    val df = Seq("11222333000181", "11222333000182", "junk")
      .toDF("cnpj")
    val viaCol = df.select(GraftFunctions.cnpj_valid(col("cnpj")).as("ok"))
      .collect().map(_.getBoolean(0)).toSeq
    assert(viaCol == Seq(true, false, false))
    GraftFunctions.register(spark)
    df.createOrReplaceTempView("cnpjs")
    val viaSql = spark.sql("SELECT cnpj_valid(cnpj) AS ok FROM cnpjs")
      .collect().map(_.getBoolean(0)).toSeq
    assert(viaSql == Seq(true, false, false))
  }

  test("dot_product matches the higher-order-function formulation exactly") {
    val e = Tables(spark, TestSpark.sf0001, "embeddings").limit(100)
      .select(col("vec_id"), col("embedding"))
    val both = e.select(
      GraftFunctions.dot_product(col("embedding"), col("embedding")).as("native"),
      expr("""aggregate(
             |  zip_with(transform(embedding, x -> cast(x as double)),
             |           transform(embedding, x -> cast(x as double)),
             |           (x, y) -> x * y),
             |  0D, (a, x) -> a + x)""".stripMargin).as("hof"))
      .collect()
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("dot_product returns NULL on mismatched lengths, like zip_with") {
    // silent truncation to the shorter side turned a corrupt embedding
    // row into a plausible-but-wrong cosine (r10 review); the documented
    // zip_with twin yields NULL (pad-nulls poison the sum) — so must this
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f, 3.0f, 4.0f)))
      .toDF("a", "b")
    val out = df.select(
      GraftFunctions.dot_product(col("a"), col("b")).as("native"),
      expr("""aggregate(
             |  zip_with(transform(a, x -> cast(x as double)),
             |           transform(b, x -> cast(x as double)),
             |           (x, y) -> x * y),
             |  0D, (acc, x) -> acc + x)""".stripMargin).as("hof"))
      .collect().head
    assert(out.isNullAt(0) && out.isNullAt(1))
  }

  test("wrong-typed arguments fail at ANALYSIS, not in codegen") {
    // without checkInputDataTypes these pass analysis and die deep in
    // generated Java / ClassCastException on an executor — an opaque
    // runtime crash instead of an error naming the expected type. On a
    // fresh session: the shared one's observation listener logs a stack
    // trace for every failed analysis
    val fresh = spark.newSession()
    import fresh.implicits._
    GraftFunctions.register(fresh)
    Seq(1).toDF("i").createOrReplaceTempView("typecheck_t")
    for (bad <- Seq(
      "SELECT cnpj_valid(i) FROM typecheck_t",
      "SELECT dot_product('a', 'b')",
      "SELECT dot_product(array(1, 2), array(3, 4))", // int arrays
      "SELECT nfc_normalize(i) FROM typecheck_t")) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        fresh.sql(bad).collect()
      }
      assert(e.getMessage.toLowerCase.contains("requires"), s"$bad: $e")
    }
  }

  test("dot_product returns NULL on a null element, like zip_with") {
    // the old kernel read the null slot's backing bytes (0.0 on UnsafeRow,
    // stale garbage on columnar) and returned a plausible-but-wrong
    // number — the exact failure class the length check prevents (r11
    // review); the zip_with twin poisons the sum to NULL, so must this
    import spark.implicits._
    val df = Seq((Seq(Some(1.0), None, Some(3.0)), Seq(2.0, 5.0, 7.0)))
      .toDF("a", "b")
    val out = df.select(
      GraftFunctions.dot_product(col("a"), col("b")).as("native"),
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (s, x) -> s + x)")
        .as("hof"))
      .collect().head
    assert(out.isNullAt(0) && out.isNullAt(1))
    // and a null-free row through the SAME nullable-typed column still
    // computes (the null probe must not reject the whole column type)
    val ok = Seq((Seq(Some(1.0), Some(2.0)), Seq(3.0, 4.0))).toDF("a", "b")
      .select(GraftFunctions.dot_product(col("a"), col("b")))
      .collect().head
    assert(ok.getDouble(0) === 11.0)
  }

  test("wrong ARITY fails with the function's name, and extras are not dropped") {
    // es.head / es(0)/es(1) crashed with NoSuchElementException on too few
    // args and SILENTLY IGNORED extra ones — dot_product(a, b, c) ran on
    // (a, b): a silently-wrong result (r11 review)
    GraftFunctions.register(spark)
    for (bad <- Seq(
      "SELECT cnpj_valid()",
      "SELECT dot_product(array(1.0D))",
      "SELECT dot_product(array(1.0D), array(2.0D), array(3.0D))",
      "SELECT nfc_normalize('a', 'b')")) {
      val e = intercept[Exception] { spark.sql(bad).collect() }
      def chain(t: Throwable): Seq[Throwable] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(6).toSeq
      assert(chain(e).exists(_.getMessage != null) &&
        chain(e).exists(c => Option(c.getMessage)
          .exists(_.contains("expects exactly"))), s"$bad: $e")
    }
  }

  test("checkDigits is ASCII-strict like the validator (no fullwidth digits)") {
    // Character.isDigit accepted fullwidth digits and produced garbage
    // check digits the validator then rejected — drifted twins (r11
    // review); validation now routes THROUGH checkDigits, one algorithm
    val full = "１１２２２３３３０００１" // fullwidth 112223330001
    intercept[IllegalArgumentException] { Cnpj.checkDigits(full) }
    assert(Cnpj.checkDigits("112223330001") === "81") // 11.222.333/0001-81
    assert(Cnpj.isValidStr("11222333000181"))
  }

  test("dot_product handles mixed float/double array inputs") {
    import spark.implicits._
    val df = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(2.0, 0.5, 1.0))).toDF("f", "d")
    val got = df.select(GraftFunctions.dot_product(col("f"), col("d")))
      .collect()(0).getDouble(0)
    assert(got == 1.0 * 2.0 + 2.0 * 0.5 + 3.0 * 1.0)
  }

  test("nfc_normalize composes combining sequences, passes through NFC text") {
    import spark.implicits._
    val composed = "café" // é as one codepoint
    val decomposed = "café" // e + combining acute
    val df = Seq(decomposed, composed, "plain ascii", null)
      .toDF("s")
    val got = df.select(GraftFunctions.nfc_normalize(col("s")).as("n"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getString(0)).toSeq
    assert(got == Seq(composed, composed, "plain ascii", null))
    // both forms now fingerprint identically — the dedup motivation
    val fps = df.filter(col("s").isNotNull)
      .select(md5(GraftFunctions.nfc_normalize(col("s"))).as("fp"))
      .collect().map(_.getString(0)).toSeq
    assert(fps(0) == fps(1))
    // SQL registration path
    GraftFunctions.register(spark)
    df.createOrReplaceTempView("nfc_in")
    val viaSql = spark.sql(
      "SELECT nfc_normalize(s) AS n FROM nfc_in WHERE s IS NOT NULL")
      .collect().map(_.getString(0)).toSeq
    assert(viaSql == Seq(composed, composed, "plain ascii"))
  }

  test("expressions stay inside whole-stage codegen (no fallback)") {
    val e = Tables(spark, TestSpark.sf0001, "embeddings")
      .select(GraftFunctions.dot_product(col("embedding"), col("embedding")).as("d"))
    val codegenNodes = e.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(codegenNodes.nonEmpty)
    // and the expression actually evaluates under codegen
    assert(e.collect().forall(_.getDouble(0) >= 0.0))
  }

  test("long_vec_fold (dot + sqdist) matches the zip_with lambda chain") {
    import spark.implicits._
    val df = Seq(
      (Seq(1L, -2L, 30000L), Seq(4L, 5L, 20000L)),
      (Seq(0L, 0L, 0L), Seq(0L, 0L, 0L)),
      (Seq(-7L, 8L, -9L), Seq(7L, -8L, 9L))
    ).toDF("a", "b")
    val both = df.select(
      GraftFunctions.dot_product_long(col("a"), col("b")).as("nd"),
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (s, x) -> s + x)")
        .as("hd"),
      GraftFunctions.sqdist_long(col("a"), col("b")).as("ns"),
      expr("aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0L, " +
        "(s, x) -> s + x)").as("hs"))
      .collect()
    both.foreach { r =>
      assert(r.getLong(0) == r.getLong(1))
      assert(r.getLong(2) == r.getLong(3))
    }
  }

  test("long_vec_fold NULL semantics: mismatched lengths and null elements") {
    import spark.implicits._
    // mismatched lengths -> NULL (zip_with pad-null poisons the sum)
    val mism = Seq((Seq(1L, 2L), Seq(1L, 2L, 3L))).toDF("a", "b")
      .select(GraftFunctions.dot_product_long(col("a"), col("b")).as("d"),
        GraftFunctions.sqdist_long(col("a"), col("b")).as("s"))
      .collect()(0)
    assert(mism.isNullAt(0) && mism.isNullAt(1))
    // a null ELEMENT -> NULL, like the lambda chain (null poisons the sum)
    val withNull = Seq((Seq[java.lang.Long](1L, null, 3L),
      Seq[java.lang.Long](4L, 5L, 6L))).toDF("a", "b")
    val viaKernel = withNull
      .select(GraftFunctions.dot_product_long(col("a"), col("b")).as("d"))
      .collect()(0)
    val viaLambda = withNull
      .select(expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0L, " +
        "(s, x) -> s + x)").as("d"))
      .collect()(0)
    assert(viaKernel.isNullAt(0) && viaLambda.isNullAt(0))
  }

  test("register installs missing SQL functions and replaces none it finds") {
    // a session of its own: the shared one's registry already holds them
    val ss = spark.newSession()
    val reg = ss.sessionState.functionRegistry
    val ids = GraftFunctions.sqlFunctions.map(_._1)
    ids.foreach(reg.dropFunction)
    intercept[org.apache.spark.sql.AnalysisException](
      ss.sql("SELECT cnpj_valid('11222333000181')").collect())
    GraftFunctions.register(ss)
    assert(ss.sql("SELECT cnpj_valid('11222333000181')").head().getBoolean(0))
    val infos = ids.map(reg.lookupFunction(_).get)
    GraftFunctions.register(ss)
    assert(ids.map(reg.lookupFunction(_).get).zip(infos).forall {
      case (a, b) => a eq b
    })
  }
}
