package graft.operators

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QuerySuite, Tables}

/** Third tranche (SURVEY §2.2 tail): map functions, multiset set-ops
  * (UNION ALL / EXCEPT ALL), and array sorting/positioning. The oracle only
  * has to produce the same *result* — DuckDB computes the scalars directly
  * where its map surface differs.
  */
object Relational3 extends QuerySuite {
  val queries: Map[String, Q] = ListMap(
    // Map construction, lookup, merge, cardinality.
    "q31_map_funcs" -> ((s, dir) => {
      val m = map(lit("status"), col("o_orderstatus"),
        lit("prio"), col("o_orderpriority"))
      Tables(s, dir, "orders").filter(col("o_orderkey") < 300)
        .select(col("o_orderkey"), m.as("m"))
        .select(col("o_orderkey"),
          element_at(col("m"), "status").as("status"),
          element_at(col("m"), "prio").as("prio"),
          size(map_concat(col("m"), map(lit("extra"), lit("x"))))
            .as("n_keys"),
          array_join(sort_array(map_keys(col("m"))), ",").as("keys_csv"))
        .orderBy("o_orderkey")
    }),

    // Multiset semantics: UNION ALL + EXCEPT ALL with per-key counts.
    "q32_multiset_ops" -> ((s, dir) => {
      val a = Tables(s, dir, "customer").select(col("c_nationkey").as("k"))
      val b = Tables(s, dir, "supplier").select(col("s_nationkey").as("k"))
      val u = a.union(b).groupBy("k").agg(count(lit(1)).as("n_all"))
      val e = a.exceptAll(b).groupBy("k").agg(count(lit(1)).as("n_excess"))
      val i = a.intersectAll(b).groupBy("k").agg(count(lit(1)).as("n_common"))
      u.join(e, Seq("k"), "left").join(i, Seq("k"), "left")
        .select(col("k"), col("n_all"),
          coalesce(col("n_excess"), lit(0L)).as("n_excess"),
          coalesce(col("n_common"), lit(0L)).as("n_common"))
        .orderBy("k")
    }),

    // Array sort / position / slicing over embeddings.
    "q33_array_sort" -> ((s, dir) => {
      // size guards like q21's: under ANSI a vector shorter than the
      // probed index ABORTS the whole query (INVALID_ARRAY_INDEX) where
      // the oracle's embedding[i] returns NULL — one 0-2 element row
      // forked the engines (r11 review; fixture-dormant)
      val sorted = sort_array(col("embedding"), asc = false)
      def top(i: Int) =
        when(size(col("embedding")) >= i, element_at(sorted, i))
          .cast("double").as(s"top$i")
      Tables(s, dir, "embeddings").filter(col("vec_id") < 20)
        .select(col("vec_id"), top(1), top(2), top(3),
          array_position(col("embedding"), array_max(col("embedding")))
            .cast("int").as("argmax_pos"))
        .orderBy("vec_id")
    }),
    // Deterministic hash-based sampling: the scalable way to take a
    // reproducible uniform sample at 100 TB (no global randomness, no
    // coordination — order by a hash of the key, take k).
    "q34_hash_sample" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"), md5(col("doc_id").cast("string")).as("h"))
        .orderBy("h", "doc_id")
        .limit(20)
    }),

    // Correlated-free scalar subquery through the SQL front door.
    "q35_scalar_subquery" -> ((s, dir) => {
      // invocation-unique view, dropped after analysis (same r10
      // race-and-leak class as q24 — see withViews; r15 review)
      val view =
        s"q35_orders_${java.util.UUID.randomUUID.toString.replace("-", "")}"
      Tables(s, dir, "orders").createOrReplaceTempView(view)
      try s.sql(
        s"""SELECT o_orderstatus, COUNT(*) AS n_above_avg
           |FROM $view
           |WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM $view)
           |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
      finally s.catalog.dropTempView(view) // sql() analyzes eagerly
    }),
    // Sliding windows (1 h width, 15 min slide) — each event lands in 4
    // overlapping windows; batch twin of the streaming windowed agg.
    "q36_sliding_windows" -> ((s, dir) => {
      Tables(s, dir, "events")
        // Spark's window() silently DROPS null-ts rows (the TimeWindowing
        // rule's predicate is null) while the oracle's bucket arithmetic
        // would group them under a NULL window — filter explicitly on
        // both sides so the semantics are declared, not incidental
        .filter(col("ts").isNotNull)
        .groupBy(window(col("ts"), "1 hour", "15 minutes"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"),
          col("n"), col("sum_value"))
        .orderBy("window_start")
    }),

    // Column profiling: count / distinct / nulls / min / max per column —
    // the data-quality sweep a training pipeline runs before ingestion.
    // ONE scan (the per-column-union formulation scans the table N times),
    // and no multi-countDistinct Expand over the full table (the r2 plan:
    // Expand multiplied every row 4× before the partial aggregate — the
    // suite's slowest query at 4 s). Instead: pre-aggregate to the distinct
    // (c1, c2, c3) combinations with per-combo counts — a plain partial-agg
    // groupBy on narrow keys whose output is tiny when the profiled columns
    // are enum-ish (3×2×7 combos here) — then compute every per-column
    // profile (distincts, null counts via the combo counts, min/max) over
    // that tiny frame. For genuinely high-cardinality profile columns the
    // combo frame degrades toward the row count; there the lake-scale
    // answer is approx_count_distinct (HLL), which this exact-oracle query
    // deliberately does not use.
    "q38_column_profile" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val cols = Seq(
        "l_returnflag" -> col("l_returnflag"),
        "l_linestatus" -> col("l_linestatus"),
        "l_linenumber" -> col("l_linenumber").cast("string"))
      val combos = li
        .groupBy(cols.map { case (name, v) => v.as(name) }: _*)
        .agg(count(lit(1)).as("cnt"))
      // coalesce: on an EMPTY table the global aggregate still emits one
      // row with sum(cnt) = NULL where the oracle's COUNT(*) says 0 — the
      // r11 zero-row-rehearsal divergence class (r15 review)
      val aggs = coalesce(sum("cnt"), lit(0L)).as("n") +: cols.flatMap { case (name, _) => Seq(
        countDistinct(col(name)).as(s"nd_$name"),
        sum(when(col(name).isNull, col("cnt")).otherwise(0L)).as(s"nn_$name"),
        min(col(name)).as(s"min_$name"), max(col(name)).as(s"max_$name")) }
      val wide = combos.agg(aggs.head, aggs.tail: _*)
      val stackArgs = cols.map { case (name, _) =>
        s"'$name', n, nd_$name, nn_$name, min_$name, max_$name"
      }.mkString(", ")
      wide.selectExpr(s"stack(${cols.size}, $stackArgs)" +
          " as (col_name, n, n_distinct, n_null, vmin, vmax)")
        .orderBy("col_name")
    }),
  )

  val oracle: Map[String, String] = ListMap(
    "q31_map_funcs" ->
      """SELECT o_orderkey, o_orderstatus AS status, o_orderpriority AS prio,
        | 3 AS n_keys, 'prio,status' AS keys_csv
        |FROM orders WHERE o_orderkey < 300 ORDER BY o_orderkey""".stripMargin,

    "q32_multiset_ops" ->
      """WITH u AS (
        | SELECT k, COUNT(*) AS n_all FROM (
        |   SELECT c_nationkey AS k FROM customer
        |   UNION ALL SELECT s_nationkey FROM supplier) GROUP BY k),
        |ex AS (
        | SELECT k, COUNT(*) AS n_excess FROM (
        |   SELECT c_nationkey AS k FROM customer
        |   EXCEPT ALL SELECT s_nationkey FROM supplier) GROUP BY k),
        |ia AS (
        | SELECT k, COUNT(*) AS n_common FROM (
        |   SELECT c_nationkey AS k FROM customer
        |   INTERSECT ALL SELECT s_nationkey FROM supplier) GROUP BY k)
        |SELECT u.k, u.n_all, COALESCE(ex.n_excess, 0) AS n_excess,
        | COALESCE(ia.n_common, 0) AS n_common
        |FROM u LEFT JOIN ex USING (k) LEFT JOIN ia USING (k)
        |ORDER BY u.k""".stripMargin,

    "q33_array_sort" ->
      """SELECT vec_id,
        | CAST(list_reverse_sort(embedding)[1] AS DOUBLE) AS top1,
        | CAST(list_reverse_sort(embedding)[2] AS DOUBLE) AS top2,
        | CAST(list_reverse_sort(embedding)[3] AS DOUBLE) AS top3,
        | CAST(list_position(embedding, list_max(embedding)) AS INT) AS argmax_pos
        |FROM embeddings WHERE vec_id < 20 ORDER BY vec_id""".stripMargin,

    "q34_hash_sample" ->
      """SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h
        |FROM documents ORDER BY h, doc_id LIMIT 20""".stripMargin,

    "q35_scalar_subquery" ->
      """SELECT o_orderstatus, COUNT(*) AS n_above_avg
        |FROM orders
        |WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q36_sliding_windows" ->
      """SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM (
        | SELECT time_bucket(INTERVAL '15 minutes', ts)
        |   - k * (INTERVAL '15 minutes') AS ws, value
        | FROM events CROSS JOIN range(0, 4) t(k)
        | WHERE ts IS NOT NULL)
        |GROUP BY ws ORDER BY window_start""".stripMargin,

    "q38_column_profile" -> {
      def p(c: String, v: String) =
        s"""SELECT '$c' AS col_name, COUNT(*) AS n,
           | CAST(COUNT(DISTINCT $v) AS BIGINT) AS n_distinct,
           | CAST(SUM(CASE WHEN $v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           | MIN($v) AS vmin, MAX($v) AS vmax FROM lineitem""".stripMargin
      s"""${p("l_returnflag", "l_returnflag")}
         |UNION ALL ${p("l_linestatus", "l_linestatus")}
         |UNION ALL ${p("l_linenumber", "CAST(l_linenumber AS VARCHAR)")}
         |ORDER BY col_name""".stripMargin
    },
  )
}
