package graft.operators

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QuerySuite, Tables}

/** Sixth tranche: customer-value scoring (RFM segmentation with
  * broadcast rank-based boundaries) and integer-exact statistical
  * outlier flags — both shaped so no global window ever sorts the full
  * fact table on one task.
  */
object Relational6 extends QuerySuite {
  /** Rank-based tertile boundaries of `valueCol` over a pre-aggregated
    * (value, freq) table — the q59 equi-depth pattern via the shared
    * [[DistributedCumsum]] prefix sum: the cumsum runs per value-range
    * bucket in parallel (never a partition-less window — the metric's NDV
    * scales with customer count, so one sorted task would be the 100×
    * straggler), and the two rank lookups fold into one 1-row aggregate
    * fit for broadcast. boundary_p = min value whose cumulative count
    * exceeds rank ⌊p·(n−1)⌋ — pure BIGINT arithmetic, identical in both
    * engines.
    */
  private[operators] def tertiles(df: DataFrame, valueCol: String, prefix: String)
      : DataFrame = {
    val counts = df.groupBy(col(valueCol).as("v")).agg(count(lit(1)).as("f"))
    DistributedCumsum.rankBoundaries(counts, "v", "f",
      Seq((s"${prefix}_b1", 1, 3), (s"${prefix}_b2", 2, 3)))
  }

  val queries: Map[String, Q] = ListMap(
    // RFM customer segmentation — recency / frequency / monetary tertile
    // buckets, the classic CRM scoring rollup. The per-customer metric
    // reduction is ONE aggregation; each metric's tertile boundaries come
    // from the broadcast rank-based lookup above (never a global
    // ntile()/percent_rank() window, which executes as one sorted
    // partition for the whole table — q60 keeps its windows per-customer,
    // where the key cardinality scales; a global score axis must not).
    // Buckets are ascending in the metric value (r_bucket 1 = most
    // recent); all arithmetic BIGINT. At lake scale with unbounded NDV
    // the boundaries would come from approx_percentile under q51's
    // accuracy contract — the bucket pass is unchanged (q59's note).
    "q61_rfm_segments" -> ((s, dir) => {
      // materialized once (q59's stats-build shape): left as lineage, the
      // customer-NDV aggregate subtree — orders scan + groupBy — is
      // re-evaluated by the boundary pipeline AND the final
      // select, with only exchange reuse between them (r10 review); after
      // this, every pass reads one tiny per-customer table. The fact
      // table is scanned exactly ONCE: the global recency anchor
      // max(o_orderdate) ≡ max over the per-customer lastd maxima, so it
      // derives from the materialized table instead of a second orders
      // scan (the r15 deferred restructure).
      val perCust = Scratch.materialized(
        Tables(s, dir, "orders")
          .groupBy("o_custkey")
          .agg(max(col("o_orderdate")).as("lastd"),
            count(lit(1)).as("freq"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("mon_cents")),
        "q61_rfm", dir)
      // ONE-ROW driver lookup (the recursiveWalk guard pattern), folded in
      // as a literal: rfm stays a pure projection over the scratch
      // parquet, so the boundary pass + final select never re-run
      // an anchor aggregate or carry a per-pass broadcast join. An empty
      // orders table gives a null anchor — rfm is empty anyway, the typed
      // null just keeps datediff analyzable.
      // type-agnostic extraction: o_orderdate is TIMESTAMP_NTZ in the
      // fixture (LocalDateTime), DATE in a classic warehouse — lit()
      // handles both; the null branch casts to the column's own type
      val maxd = perCust.agg(max(col("lastd"))).head().get(0) match {
        case null => lit(null).cast(perCust.schema("lastd").dataType)
        case v => lit(v)
      }
      val rfm = perCust
        .select(col("o_custkey"),
          datediff(maxd, col("lastd")).cast("long").as("rec_days"),
          col("freq"), col("mon_cents"))
      // ONE fused boundary pipeline for all three metric axes (r20): the
      // three per-metric tertiles() calls each ran a full groupBy +
      // DistributedCumsum pass over the same scratch table — 3× the
      // exchanges and a ~100-exchange plan whose per-stage planning cost
      // rivaled its execution (r20 plan audit; guide §2.4). The metrics
      // unpivot into (axis, value) rows — 3× the per-customer table, still
      // NDV-tiny — so ONE keyed cumsum computes all six boundaries, folded
      // into the same single broadcast row as before. Boundary math is
      // bit-identical: cumulativeKeyed is the same arithmetic per key.
      val axes = rfm.select(explode(array(
        struct(lit("r").as("k"), col("rec_days").as("v")),
        struct(lit("f").as("k"), col("freq").as("v")),
        struct(lit("m").as("k"), col("mon_cents").as("v")))).as("kv"))
        .select(col("kv.k").as("k"), col("kv.v").as("v"))
      val counts = axes.groupBy("k", "v").agg(count(lit(1)).as("f"))
      val perAxis = DistributedCumsum.rankBoundariesKeyed(
        counts, "k", "v", "f", Seq(("b1", 1, 3), ("b2", 2, 3)))
      def pick(axis: String, b: String, alias: String) =
        min(when(col("k") === axis, col(b))).as(alias)
      val bounds = perAxis.agg(
        pick("r", "b1", "r_b1"), pick("r", "b2", "r_b2"),
        pick("f", "b1", "f_b1"), pick("f", "b2", "f_b2"),
        pick("m", "b1", "m_b1"), pick("m", "b2", "m_b2"))
      rfm
        .crossJoin(broadcast(bounds))
        .select(col("o_custkey"), col("rec_days"), col("freq"),
          col("mon_cents"),
          (lit(1) + (col("rec_days") > col("r_b1")).cast("int")
            + (col("rec_days") > col("r_b2")).cast("int")).as("r_bucket"),
          (lit(1) + (col("freq") > col("f_b1")).cast("int")
            + (col("freq") > col("f_b2")).cast("int")).as("f_bucket"),
          (lit(1) + (col("mon_cents") > col("m_b1")).cast("int")
            + (col("mon_cents") > col("m_b2")).cast("int")).as("m_bucket"))
        .withColumn("segment",
          concat(lit("R"), col("r_bucket"), lit("F"), col("f_bucket"),
            lit("M"), col("m_bucket")))
        .orderBy("o_custkey")
    }),

    // Per-customer z-score anomaly scoring in EXACT integer arithmetic:
    // z² = (x − μ)²/σ² (population σ) cleared of denominators is
    // (n·x − S)²/(n·Q − S²) with S = Σx, Q = Σx² in whole currency
    // units — no float mean/stddev, so partial-agg order can't move a bit
    // and both engines agree by construction. Emits the score in MILLI
    // (z² · 10³, BIGINT floor division — milli not micro keeps the
    // numerator's ×-scale product inside BIGINT at per-key cardinalities)
    // and the 2σ flag (z² > 4 ⇔ (n·x−S)² > 4·(n·Q−S²), pure-integer
    // comparison, n ≥ 4 so a 2-row key can't self-flag). One per-customer
    // aggregation joined back to the orders (customer-keyed equi-join,
    // AQE-skew-splittable). The population z of any point is bounded by
    // (n−1)/√n, so low-count keys mathematically cannot trip large
    // thresholds — the score column is the ranking signal; the flag fires
    // on genuinely heavy-tailed keys (spec plants one).
    "q62_zscore_outliers" -> ((s, dir) =>
      zscoreAnomalies(
        Tables(s, dir, "orders")
          .select(col("o_orderkey").as("row_id"),
            col("o_custkey").as("key"),
            round(col("o_totalprice")).cast("long").as("x")))
        .select(col("row_id").as("o_orderkey"), col("key").as("o_custkey"),
          col("x").as("units"), col("n"), col("z2_milli"), col("is_outlier"))
        .orderBy("o_orderkey")),

    // Spark 4 ordered-selection aggregate battery: max_by / min_by /
    // count_if / bool_and / bool_or / any_value. max_by ties are
    // NONDETERMINISTIC by contract, so the ordering key is made unique —
    // the 19-digit zero-padded (cents, orderkey) string (the tx18
    // pattern: lexicographic == numeric for padded non-negatives; DuckDB's
    // arg_max has no struct ordering overload, a string key works in
    // both engines). any_value reads an expression CONSTANT within the
    // group, the only shape where its result is well-defined. Everything
    // is one map-side-combinable aggregation.
    "q63_argmax_funcs" -> ((s, dir) => {
      val o = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      val ord = format_string("%019d%019d", col("cents"), col("o_orderkey"))
      o.groupBy("o_orderpriority")
        .agg(
          max_by(col("o_orderkey"), ord).as("top_order"),
          max_by(col("cents"), ord).as("top_cents"),
          min_by(col("o_orderkey"), ord).as("bottom_order"),
          count_if(col("cents") > 20000000L).as("n_large"),
          bool_and(col("cents") > 0L).cast("int").as("all_positive"),
          bool_or(col("cents") > 40000000L).cast("int").as("any_huge"),
          any_value(substring(col("o_orderpriority"), 1, 1)).as("prio_tag"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }),

    // MERGEABLE distinct-count sketches (Apache DataSketches HLL, Spark
    // 3.5+): per-day sketches built once, then UNIONED to the monthly
    // total WITHOUT rescanning raw data — the incremental-statistics
    // lake pattern (md04's partial-merge idea on the distinct axis; plain
    // approx_count_distinct partials aren't persistable/re-mergeable,
    // sketch columns are). Sketch estimates aren't reproducible in the
    // oracle engine, so per q45's contract pattern the OUTPUT carries the
    // exact counts and the tolerance FLAGS (HLL lgk=12 ⇒ ~1.6% rse; 5%
    // bound), never the raw estimate.
    "q64_hll_mergeable" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
        // a null event time would form a NULL day group sorting FIRST in
        // Spark's dump but LAST under DuckDB's ORDER BY (the ts03/ts04
        // convention); an unstamped event has no day to be counted in.
        // Null USERS are dropped too: a day whose events all carry null
        // user_id has exact_daily = 0, and the old 0/0 flag was NaN→0
        // where the oracle emits 1 (r11 review; fixture-dormant)
        .filter(col("ts").isNotNull && col("user_id").isNotNull)
        .select(date_trunc("day", col("ts")).as("day"), col("user_id"))
      // MATERIALIZED like q61's shared RFM aggregate: `daily` feeds the
      // union-total, the per-day flags and n_days, and `ev` is otherwise
      // re-aggregated for exact_total — without this the events scan ran
      // three aggregations with only fragile exchange reuse between them
      // (r11 review). The per-day table is date-cardinality tiny.
      val daily = Scratch.materialized(
        ev.groupBy("day")
          .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"),
            countDistinct(col("user_id")).as("exact_daily")),
        "q64_daily", dir)
      val total = daily.agg(
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_total"),
        count(lit(1)).as("n_days"))
      val exactTotal = ev.agg(countDistinct(col("user_id")).as("exact_total"))
      daily
        .select(col("day"), col("exact_daily"),
          ((abs(hll_sketch_estimate(col("sk")) - col("exact_daily"))
            .cast("double") / col("exact_daily")) <= lit(0.05))
            .cast("int").as("daily_within_5pct"))
        .crossJoin(broadcast(total))
        .crossJoin(broadcast(exactTotal))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("exact_daily"), col("daily_within_5pct"),
          col("exact_total"), col("n_days"),
          ((abs(col("est_total") - col("exact_total")).cast("double")
            / col("exact_total")) <= lit(0.05)).cast("int")
            .as("union_within_5pct"))
        .orderBy("day")
    }),
  )

  /** The q62 kernel over a (row_id, key, x) frame — spec-drivable with
    * planted heavy-tailed fixtures. Zero-variance keys score 0 (every
    * member IS the mean) rather than dividing by zero.
    */
  private[operators] def zscoreAnomalies(o: DataFrame): DataFrame = {
    val stats = o.groupBy("key")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
        sum(col("x") * col("x")).as("q"))
    // ONE spelling of the deviation/variance algebra, shared by the
    // zero-variance guard, the integer-div quotient and the outlier
    // test: the old code stated it twice (Column objects for the guards,
    // a string inside expr for the quotient), the rankBoundaries-class
    // twin-drift hazard — an edit to one spelling silently left the
    // other's denominator stale (r15 review). String fragments because
    // the quotient needs SQL's integer `div` (floor-through-double would
    // lose exactness past 2^52 — the r14 DistributedCumsum lesson).
    val devSql = "(n * x - s)"
    val varSql = "(n * q - s * s)"
    val varN = expr(varSql)
    o.join(stats, "key")
      .select(col("row_id"), col("key"), col("x"), col("n"),
        when(varN === 0L, lit(0L))
          .otherwise(expr(s"($devSql * $devSql * 1000) div $varSql"))
          .as("z2_milli"),
        (col("n") >= 4 && expr(s"$devSql * $devSql") > lit(4L) * varN)
          .cast("int").as("is_outlier"))
  }

  val oracle: Map[String, String] = ListMap(
    // The same rank-based tertile lookup stated directly per metric.
    "q61_rfm_segments" ->
      """WITH maxd AS (SELECT MAX(o_orderdate) AS maxd FROM orders),
        | rfm AS (SELECT o_custkey,
        |   CAST(date_diff('day', MAX(o_orderdate), (SELECT maxd FROM maxd))
        |     AS BIGINT) AS rec_days,
        |   CAST(COUNT(*) AS BIGINT) AS freq,
        |   CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |     AS mon_cents
        |  FROM orders GROUP BY o_custkey),
        | rb AS (SELECT MIN(CASE WHEN cum > (n - 1) // 3 THEN v END) AS b1,
        |   MIN(CASE WHEN cum > ((n - 1) * 2) // 3 THEN v END) AS b2
        |  FROM (SELECT v, SUM(f) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
        |     AS cum, SUM(f) OVER () AS n
        |   FROM (SELECT rec_days AS v, COUNT(*) AS f FROM rfm GROUP BY 1))),
        | fb AS (SELECT MIN(CASE WHEN cum > (n - 1) // 3 THEN v END) AS b1,
        |   MIN(CASE WHEN cum > ((n - 1) * 2) // 3 THEN v END) AS b2
        |  FROM (SELECT v, SUM(f) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
        |     AS cum, SUM(f) OVER () AS n
        |   FROM (SELECT freq AS v, COUNT(*) AS f FROM rfm GROUP BY 1))),
        | mb AS (SELECT MIN(CASE WHEN cum > (n - 1) // 3 THEN v END) AS b1,
        |   MIN(CASE WHEN cum > ((n - 1) * 2) // 3 THEN v END) AS b2
        |  FROM (SELECT v, SUM(f) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
        |     AS cum, SUM(f) OVER () AS n
        |   FROM (SELECT mon_cents AS v, COUNT(*) AS f FROM rfm GROUP BY 1)))
        |SELECT o_custkey, rec_days, freq, mon_cents,
        | 1 + CAST(rec_days > rb.b1 AS INT) + CAST(rec_days > rb.b2 AS INT)
        |   AS r_bucket,
        | 1 + CAST(freq > fb.b1 AS INT) + CAST(freq > fb.b2 AS INT)
        |   AS f_bucket,
        | 1 + CAST(mon_cents > mb.b1 AS INT) + CAST(mon_cents > mb.b2 AS INT)
        |   AS m_bucket,
        | 'R' || (1 + CAST(rec_days > rb.b1 AS INT)
        |     + CAST(rec_days > rb.b2 AS INT))
        |   || 'F' || (1 + CAST(freq > fb.b1 AS INT)
        |     + CAST(freq > fb.b2 AS INT))
        |   || 'M' || (1 + CAST(mon_cents > mb.b1 AS INT)
        |     + CAST(mon_cents > mb.b2 AS INT)) AS segment
        |FROM rfm, rb, fb, mb ORDER BY o_custkey""".stripMargin,

    "q62_zscore_outliers" ->
      """WITH o AS (SELECT o_orderkey, o_custkey,
        |   CAST(round(o_totalprice) AS BIGINT) AS units FROM orders),
        | st AS (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n,
        |   CAST(SUM(units) AS BIGINT) AS s,
        |   CAST(SUM(units * units) AS BIGINT) AS q
        |  FROM o GROUP BY o_custkey)
        |SELECT o.o_orderkey, o.o_custkey, o.units, st.n,
        | CASE WHEN st.n * st.q - st.s * st.s = 0 THEN 0
        |  ELSE ((st.n * o.units - st.s) * (st.n * o.units - st.s) * 1000)
        |   // (st.n * st.q - st.s * st.s) END AS z2_milli,
        | CAST(st.n >= 4 AND
        |   (st.n * o.units - st.s) * (st.n * o.units - st.s)
        |     > 4 * (st.n * st.q - st.s * st.s) AS INT) AS is_outlier
        |FROM o JOIN st ON o.o_custkey = st.o_custkey
        |ORDER BY o.o_orderkey""".stripMargin,

    "q63_argmax_funcs" ->
      """WITH o AS (SELECT o_orderkey, o_orderpriority,
        |   CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |   printf('%019d%019d', CAST(round(o_totalprice * 100) AS BIGINT),
        |     o_orderkey) AS ord
        |  FROM orders)
        |SELECT o_orderpriority,
        | arg_max(o_orderkey, ord) AS top_order,
        | arg_max(cents, ord) AS top_cents,
        | arg_min(o_orderkey, ord) AS bottom_order,
        | CAST(count_if(cents > 20000000) AS BIGINT) AS n_large,
        | CAST(bool_and(cents > 0) AS INT) AS all_positive,
        | CAST(bool_or(cents > 40000000) AS INT) AS any_huge,
        | any_value(substring(o_orderpriority, 1, 1)) AS prio_tag,
        | COUNT(*) AS n
        |FROM o GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // The contract restated: exact counts + all-within flags (the sketch
    // estimate itself never leaves the engine — q45's pattern).
    "q64_hll_mergeable" ->
      """WITH ev AS (SELECT date_trunc('day', ts) AS day, user_id
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        | daily AS (SELECT day, COUNT(DISTINCT user_id) AS exact_daily
        |  FROM ev GROUP BY day),
        | t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily),
        | x AS (SELECT COUNT(DISTINCT user_id) AS exact_total FROM ev)
        |SELECT strftime(day, '%Y-%m-%d') AS day, exact_daily,
        | 1 AS daily_within_5pct, exact_total, n_days,
        | 1 AS union_within_5pct
        |FROM daily, t, x ORDER BY day""".stripMargin,
  )
}
