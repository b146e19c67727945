package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The r11 review's fixture-dormant divergence forks, pinned on degenerate
  * fixtures the frozen testdata never carries (probed against DuckDB before
  * fixing — each assertion below is the value BOTH engines now produce):
  * an empty embedding aborted q21; control-char-padded JSON integers
  * counted in q22 on Spark only; a negative user_id made q53's shiftleft
  * silently set a masked high bit where the oracle errors; one malformed
  * props row aborted vr01 wholesale, and a fractional k truncated on Spark
  * while the oracle rounded.
  */
class EdgeForksSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val dir: String = {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("edgeforks").toString
    Seq(
      (1L, "2024-01-15 10:00:00", -5L, "click", 1.0, """{"k": 2.7}"""),
      (2L, "2024-01-15 10:10:00", 3L, "click", 2.0, """{"k": "\t7"}"""),
      (3L, "2024-01-15 10:20:00", 4L, "click", 3.0, "oops"),
      (4L, "2024-01-15 10:30:00", 5L, "click", 4.0, """{"k": 10}"""))
      .toDF("event_id", "tss", "user_id", "event_type", "value", "props")
      .select(col("event_id"), col("tss").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .coalesce(1).write.parquet(s"$d/events.parquet")
    Seq(
      (0L, Array.empty[Float], 0),
      (1L, Array(3f, 1f, 2f), 1))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$d/embeddings.parquet")
    d
  }

  test("q21: an empty embedding yields NULL boundary cells, not an abort") {
    val r = Relational.queries("q21_array_funcs")(spark, dir)
      .orderBy("vec_id").collect()
    assert(r.length === 2)
    assert(r(0).getInt(1) === 0)
    assert(r(0).isNullAt(2) && r(0).isNullAt(3),
      s"empty vector must produce NULL e_first/e_last: ${r(0)}")
    assert(r(1).getDouble(2) === 3.0 && r(1).getDouble(3) === 2.0)
  }

  test("q22: control-char-padded k is rejected like the oracle's space-trim gate") {
    val r = Relational.queries("q22_json_funcs")(spark, dir).collect()
    assert(r.length === 1)
    // only 2.7 (non-integer regex-fail), "\t7" (control char), "oops"
    // (invalid json) are rejected; k=10 survives
    assert(r(0).getLong(1) === 4L) // n counts all rows
    assert(r(0).getDouble(2) === 10.0 && r(0).getInt(3) === 10)
  }

  test("q53: negative user_id masks via pmod, never a negative shift count") {
    val r = Relational5.queries("q53_bit_aggs")(spark, dir).collect()
    assert(r.length === 1)
    val mask = r(0).getLong(2)
    // buckets: pmod(-5,32)=27, 3, 4, 5 — and NEVER bit 59 (the Java-masked
    // 1L << -5 the old % produced)
    assert(mask === ((1L << 27) | (1L << 3) | (1L << 4) | (1L << 5)), mask)
    assert((mask & (1L << 59)) === 0L)
    assert(r(0).getInt(3) === 4)
  }

  test("q47: fractional numeric props is NULL on both engines (DuckDB TRY_CAST rounds)") {
    // props='42.7': DuckDB TRY_CAST('42.7' AS INT) = 43 while Spark's
    // try_cast = NULL — both sides now gate on the integer regex first
    // (r11 review, probed live)
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("q47fork").toString
    Seq(
      (1L, "2024-01-15 10:00:00", 1L, "click", 1.0, "42.7"),
      (2L, "2024-01-15 10:10:00", 2L, "click", 2.0, "  7 "),
      (4L, "2024-01-15 10:30:00", 4L, "click", 4.0, "11"))
      .toDF("event_id", "tss", "user_id", "event_type", "value", "props")
      .select(col("event_id"), col("tss").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .coalesce(1).write.parquet(s"$d/events.parquet")
    val r = Relational4.queries("q47_try_semantics")(spark, d)
      .orderBy("event_id").collect()
    assert(r(0).isNullAt(1), s"fractional '42.7' must be NULL: ${r(0)}")
    assert(r(1).getInt(1) === 7) // space padding trims on both engines
    assert(r(2).getInt(1) === 11)
  }

  test("q45/q51: an all-NULL key group flags 1, never a NaN-flagged 0") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("q45fork").toString
    Seq(
      (1L, Some(10L), "O", 100.0, "2024-01-01 00:00:00", "1-URGENT"),
      (2L, None: Option[Long], "O", 0.0, "2024-01-02 00:00:00", "2-HIGH"),
      (3L, None: Option[Long], "O", 0.0, "2024-01-03 00:00:00", "2-HIGH"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "odate", "o_orderpriority")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("odate").cast("timestamp").as("o_orderdate"),
        col("o_orderpriority"))
      .coalesce(1).write.parquet(s"$d/orders.parquet")
    val q45 = Relational4.queries("q45_approx_distinct")(spark, d)
      .orderBy("o_orderpriority").collect()
    // 2-HIGH: countDistinct over all-NULL keys = 0 → old 0/0 = NaN → 0
    assert(q45(1).getLong(1) === 0L && q45(1).getInt(2) === 1, q45(1))
    val q51 = Relational4.queries("q51_approx_percentile")(spark, d)
      .orderBy("o_orderpriority").collect()
    // 2-HIGH: exact median 0.0 → old 0/0 division NaN-flagged 0
    assert(q51(1).getDouble(1) === 0.0 && q51(1).getInt(2) === 1, q51(1))
  }

  test("a failing SQL-view query drops its invocation views on the error path") {
    // a fresh session: the shared one's observation listener logs a stack
    // trace for every failed analysis
    val fresh = spark.newSession()
    val before = fresh.catalog.listTables().collect()
      .count(_.name.startsWith("q37_"))
    intercept[Exception] {
      Relational4.queries("q37_exists_subquery")(fresh, "/nonexistent-dir-xyz")
    }
    val after = fresh.catalog.listTables().collect()
      .count(_.name.startsWith("q37_"))
    assert(after === before,
      "failure path must not strand invocation-unique temp views")
  }

  test("q33: a short vector yields NULL top-k cells, not an ANSI abort") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("q33fork").toString
    Seq((0L, Array(5f, 9f), 0), (1L, Array(3f, 1f, 2f, 4f), 1))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$d/embeddings.parquet")
    val r = Relational3.queries("q33_array_sort")(spark, d)
      .orderBy("vec_id").collect()
    assert(r(0).getDouble(1) === 9.0 && r(0).getDouble(2) === 5.0)
    assert(r(0).isNullAt(3), s"2-element vector must NULL top3: ${r(0)}")
    assert(r(1).getDouble(3) === 2.0)
  }

  test("ev02/ev03/ev04: null users drop instead of forming phantom cohort/sequence rows") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("evfork").toString
    Seq(
      (1L, "2024-01-01 10:00:00", Some(1L), "view", 1.0, "{}"),
      (2L, "2024-01-01 10:05:00", Some(1L), "click", 1.0, "{}"),
      (3L, "2024-01-01 10:06:00", Some(1L), "purchase", 1.0, "{}"),
      (4L, "2024-01-01 11:00:00", None: Option[Long], "view", 1.0, "{}"))
      .toDF("event_id", "tss", "user_id", "event_type", "value", "props")
      .select(col("event_id"), col("tss").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .coalesce(1).write.parquet(s"$d/events.parquet")
    val cohort = EventAnalytics.queries("ev02_cohort_retention")(spark, d)
      .collect()
    // one real user, one cohort of size 1 with full offset-0 retention:
    // the phantom NULL member previously inflated cohort_n to 2 and
    // capped retention at 500000 ppm forever
    assert(cohort.length === 1)
    assert(cohort(0).getLong(3) === 1L, s"cohort_n: ${cohort(0)}")
    assert(cohort(0).getLong(4) === 1000000L, s"retention: ${cohort(0)}")
    val paths = EventAnalytics.queries("ev04_top_paths")(spark, d).collect()
    assert(paths.length === 1 &&
      paths(0).getString(0) === "view>click>purchase")
    val tr = EventAnalytics.queries("ev03_transitions")(spark, d).collect()
    assert(tr.length === 2) // view>click, click>purchase — no NULL pseudo-user
  }

  test("vr01: malformed props is contained to its row; fractional k truncates") {
    val r = Relational5.queries("vr01_variant")(spark, dir).collect()
    assert(r.length === 1)
    // k: 2.7→2 (truncated, both engines probed), "\t7"→7 (string→int cast),
    // oops→NULL (contained), 10→10
    assert(r(0).getLong(1) === 3L, s"n_k: ${r(0)}")
    assert(r(0).getLong(2) === 19L, s"sum_k: ${r(0)}")
    assert(r(0).getInt(3) === 10)
  }
}
