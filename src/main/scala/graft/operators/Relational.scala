package graft.operators

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.{QuerySuite, Tables}

/** Relational/analyst query surface over the TPC-H-ish testdata
  * (SURVEY.md §2.2, §7.1 M3). The reference materializes typed tables for
  * arbitrary analyst SQL (reference `READme.md:4,23-24`); this module is that
  * implied surface, expressed Spark-first so Catalyst gets a declarative plan
  * (pushdown, pruning, AQE join selection all apply).
  *
  * Numeric-determinism policy (oracle = DuckDB at sf0.01):
  *   - SUMs over double money columns go through DECIMAL(12,2): exact,
  *     order-independent, so a 32-way partial agg matches DuckDB's
  *     single-threaded sum bit-for-bit. Final value is CAST back to DOUBLE
  *     (2-decimal totals are exactly representable well past 2^53).
  *   - AVGs stay double but are ROUND()ed to 4 decimals.
  *   - Timestamps are never emitted raw: cast to DATE or formatted strings,
  *     avoiding µs/ns and UTC-flag representation drift between writers.
  *   - Every query ends in a total ORDER BY.
  *
  * Scale notes (100 TB): region/nation are fixed-cardinality → explicit
  * broadcast(); customer/supplier/part grow with SF → left to AQE, which
  * converts to broadcast at runtime when small enough. All aggregations are
  * partial (map-side combine) by construction; no collect()s anywhere.
  */
object Relational extends QuerySuite {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** Exact money arithmetic: see numeric-determinism policy above.
    *
    * DOCUMENTED LIMIT (r15 review): the double→decimal(12,2) cast itself
    * forks across engines on values that are not exactly 2-dp
    * representable — Spark rounds the double's SHORTEST DECIMAL STRING
    * (8.845 → "8.845" → HALF_UP → 8.85) while DuckDB rounds the BINARY
    * value (8.84499999999999886… → 8.84). Every money/value column in the
    * fixtures is generated as exact cents, so the fork is unreachable
    * here; a corpus with free doubles would need one engine's rounding
    * spelled explicitly on both sides before this cast.
    */
  // private[operators]: the decimal widths are a cross-engine exactness
  // contract shared with Relational4 (q43/q46) — hand-replicated copies
  // would silently miss a policy change (r10 review)
  private[operators] def money(c: Column): Column = c.cast(DecimalType(12, 2))
  private def rate(c: Column): Column = c.cast(DecimalType(4, 2))
  private val one = lit(1).cast(DecimalType(4, 2))
  /** SUM(money) as an exact double. */
  private[operators] def msum(c: Column): Column = sum(money(c)).cast("double")
  /** SUM(price × (1 − discount)) — the discounted-revenue aggregate, ONE
    * definition for q01/q03/q05 (its oracle twin is `oDisc`): the decimal
    * widths are a cross-engine exactness contract, so a policy change must
    * not be hand-replicated per query.
    */
  private def mdisc(price: Column, disc: Column): Column =
    sum(money(price) * (one - rate(disc))).cast("double")

  val queries: Map[String, Q] = ListMap(
    // --- aggregation / filter / projection ---------------------------------
    "q01_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("2001-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          msum(col("l_quantity")).as("sum_qty"),
          msum(col("l_extendedprice")).as("sum_base_price"),
          mdisc(col("l_extendedprice"), col("l_discount"))
            .as("sum_disc_price"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(avg("l_extendedprice"), 4).as("avg_price"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "q02_filter_project" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate").between("1997-01-01", "1997-03-31")
          && col("l_discount") >= 0.05 && col("l_quantity") < 10)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"),
          date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_date"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // --- joins --------------------------------------------------------------
    "q03_top_revenue_orders" -> ((s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders")
      // Pre-aggregate revenue per order BEFORE the join: sum-then-filter ==
      // filter-then-sum on the join key, and the fact table enters the join
      // at |orders| rows instead of |lineitem| — the manual form of a
      // partial-agg pushdown Catalyst doesn't do below joins.
      val rev = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(mdisc(col("l_extendedprice"), col("l_discount")).as("revenue"))
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(rev, o("o_orderkey") === col("l_orderkey"))
        .select(o("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
          col("revenue"))
        .orderBy(desc("revenue"), asc("o_orderkey"))
        .limit(10)
    }),

    "q04_priority_semi_join" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val flagged = t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R").select("l_orderkey")
      o.join(flagged, o("o_orderkey") === flagged("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }),

    "q05_nation_revenue" -> ((s, dir) => {
      val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
      val n = t(s, dir, "nation")
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      val su = t(s, dir, "supplier")
      // region/nation: fixed-cardinality dims → explicit broadcast.
      n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .join(c, c("c_nationkey") === n("n_nationkey"))
        .join(o, o("o_custkey") === c("c_custkey"))
        .join(li, li("l_orderkey") === o("o_orderkey"))
        .join(su, li("l_suppkey") === su("s_suppkey")
          && su("s_nationkey") === c("c_nationkey"))
        .groupBy(n("n_name"))
        .agg(mdisc(col("l_extendedprice"), col("l_discount")).as("revenue"))
        .orderBy(desc("revenue"), asc("n_name"))
    }),

    "q06_promo_revenue" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(year(col("l_shipdate")) === 1997
          && col("l_discount").between(0.03, 0.07) && col("l_quantity") < 24)
        .agg(sum(money(col("l_extendedprice")) * rate(col("l_discount")))
          .cast("double").as("promo_revenue"),
          count(lit(1)).as("n_rows"))
    }),

    "q07_customers_without_orders" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      // anti join vs the 'P'-status subset so the result is non-empty
      // (every customer has *some* order in the synthetic data)
      val o = t(s, dir, "orders")
        .filter(col("o_orderstatus") === "P").select("o_custkey")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers"),
          msum(col("c_acctbal")).as("total_acctbal"))
        .orderBy("c_mktsegment")
    }),

    "q08_order_count_histogram" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val perCust = c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(c("c_custkey")).agg(count(o("o_orderkey")).as("c_count"))
      perCust.groupBy("c_count").agg(count(lit(1)).as("custdist"))
        .orderBy(desc("custdist"), desc("c_count"))
    }),

    // --- window functions ---------------------------------------------------
    "q09_top_orders_per_customer" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    }),

    "q10_running_total" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
          sum(money(col("o_totalprice"))).over(w).cast("double").as("running_total"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    "q11_lag_moving_avg" -> ((s, dir) => {
      val wl = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          lag("o_totalprice", 1).over(wl).as("prev_price"),
          round(avg("o_totalprice").over(wl.rowsBetween(-2, 0)), 4).as("ma3"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // --- grouping sets ------------------------------------------------------
    // Pre-aggregate to the finest grouping FIRST, then rollup the tiny
    // per-group frame (r20; guide §2.3 "aggregate before you shuffle"):
    // rollup/cube plan as an Expand that replicates its INPUT once per
    // grouping set, so rolling up the raw fact table pushed levels × |fact|
    // rows through Expand + aggregate, where the two-level form pays one
    // plain partial-agg scan and expands only the |distinct keys| frame.
    // Exactness is unchanged: counts re-aggregate as SUM(n) and the money
    // sums are DECIMAL — associative, so sum-of-sums is bit-identical.
    "q12_rollup" -> ((s, dir) => {
      val pre = t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("pn"), sum(money(col("l_quantity"))).as("pq"))
      pre.rollup("l_returnflag", "l_linestatus")
        .agg(sum(col("pn")).as("n"),
          sum(col("pq")).cast("double").as("sum_qty"),
          grouping(col("l_returnflag")).cast("int").as("g_flag"),
          grouping(col("l_linestatus")).cast("int").as("g_status"))
        // flags break the margin-vs-real-NULL-group tie (q43's pattern):
        // without them a rollup subtotal and a genuine NULL-key group
        // share a sort key and the two engines may order them differently
        .orderBy(asc_nulls_first("l_returnflag"),
          asc_nulls_first("l_linestatus"), asc("g_flag"), asc("g_status"))
    }),

    // two-level like q12 (cube = 4 grouping sets, so the raw-fact Expand
    // was 4 × |orders|; now 4 × |status × priority| = tens of rows)
    "q13_cube" -> ((s, dir) => {
      val pre = t(s, dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("pn"), sum(money(col("o_totalprice"))).as("pt"))
      pre.cube("o_orderstatus", "o_orderpriority")
        .agg(sum(col("pn")).as("n"),
          sum(col("pt")).cast("double").as("total"),
          grouping(col("o_orderstatus")).cast("int").as("g_status"),
          grouping(col("o_orderpriority")).cast("int").as("g_priority"))
        .orderBy(asc_nulls_first("o_orderstatus"),
          asc_nulls_first("o_orderpriority"),
          asc("g_status"), asc("g_priority"))
    }),

    // --- set operations -----------------------------------------------------
    "q14_set_ops" -> ((s, dir) => {
      val ck = t(s, dir, "customer").select(col("c_nationkey").as("k")).distinct()
      val sk = t(s, dir, "supplier").select(col("s_nationkey").as("k")).distinct()
      val both = ck.intersect(sk).withColumn("tag", lit("both"))
      val conly = ck.except(sk).withColumn("tag", lit("cust_only"))
      val sonly = sk.except(ck).withColumn("tag", lit("supp_only"))
      both.union(conly).union(sonly).select("tag", "k").orderBy("tag", "k")
    }),

    // --- scalar functions ---------------------------------------------------
    "q15_string_funcs" -> ((s, dir) => {
      t(s, dir, "part").select(col("p_partkey"),
        upper(col("p_name")).as("uname"),
        length(col("p_name")).as("name_len"),
        substring(col("p_name"), 1, 5).as("prefix"),
        // translate, not regexp_replace: the oracle's REPLACE is literal,
        // so the Spark side must not reinterpret a future metacharacter
        // pattern as a regex (and a literal map skips per-row regex cost)
        translate(col("p_brand"), "#", "-").as("brand_dash"),
        concat(col("p_type"), lit(":"), col("p_size").cast("string")).as("type_size"),
        regexp_extract(col("p_name"), "([a-z]+)$", 1).as("last_word"),
        reverse(col("p_name")).as("rname"),
        lpad(col("p_partkey").cast("string"), 8, "0").as("key_pad"))
        .orderBy("p_partkey")
    }),

    "q16_date_funcs" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
        .agg(count(lit(1)).as("n_orders"),
          msum(col("o_totalprice")).as("total"),
          date_format(min(col("o_orderdate")), "yyyy-MM-dd").as("first_day"),
          date_format(max(col("o_orderdate")), "yyyy-MM-dd").as("last_day"))
        .orderBy("y", "m")
    }),

    "q17_conditional_agg" -> ((s, dir) => {
      t(s, dir, "lineitem").groupBy("l_linestatus")
        .agg(
          sum(when(col("l_returnflag") === "R", 1).otherwise(0)).as("n_returned"),
          sum(when(col("l_returnflag") === "A", 1).otherwise(0)).as("n_a"),
          round(avg(when(col("l_returnflag") === "N", col("l_extendedprice"))), 4)
            .as("avg_price_n"),
          count(lit(1)).as("n"))
        .orderBy("l_linestatus")
    }),

    "q18_having" -> ((s, dir) => {
      t(s, dir, "customer").groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_customers"), msum(col("c_acctbal")).as("total_bal"))
        .filter(col("n_customers") > 5)
        .orderBy("c_nationkey")
    }),

    "q19_topk_parts" -> ((s, dir) => {
      t(s, dir, "part")
        .select("p_partkey", "p_name", "p_retailprice")
        .orderBy(desc("p_retailprice"), asc("p_partkey"))
        .limit(10)
    }),

    "q20_math_funcs" -> ((s, dir) => {
      t(s, dir, "part").select(col("p_partkey"),
        (col("p_size") % 5).as("size_mod"),
        floor(col("p_retailprice")).as("price_floor"),
        ceil(col("p_retailprice")).as("price_ceil"),
        abs(col("p_size") - 25).as("size_dev"),
        round(sqrt(col("p_retailprice")), 6).as("price_sqrt"),
        round(log(col("p_retailprice") + 1), 6).as("price_ln"),
        pow(col("p_size").cast("double"), 2).cast("long").as("size_sq"))
        .orderBy("p_partkey")
    }),

    "q21_array_funcs" -> ((s, dir) => {
      // the size() guard covers BOTH boundary cells: a zero-length vector
      // makes element_at(_, 0) throw INVALID_INDEX_OF_ZERO (and the index-1
      // probe aborts under ANSI) while the oracle's embedding[1] /
      // embedding[len(...)] return NULL — guard to NULL on empty so one
      // degenerate row can't abort the query or fork the engines (r11
      // review, probed on both engines; the short-vector comment below
      // covered only the non-empty case)
      t(s, dir, "embeddings").select(col("vec_id"),
        size(col("embedding")).as("dim"),
        when(size(col("embedding")) > 0, element_at(col("embedding"), 1))
          .cast("double").as("e_first"),
        // size(), not a hardcoded 64: under ANSI mode a shorter vector
        // would ABORT on an out-of-range literal index while the oracle's
        // embedding[len(embedding)] returns the true last element
        when(size(col("embedding")) > 0,
          element_at(col("embedding"), size(col("embedding"))))
          .cast("double").as("e_last"),
        array_max(col("embedding")).cast("double").as("e_max"),
        array_min(col("embedding")).cast("double").as("e_min"))
        .orderBy("vec_id")
    }),

    "q22_json_funcs" -> ((s, dir) => {
      // try_cast: the bare ANSI cast ABORTS the whole job on a
      // non-integer k ('50.5'), against the module's q47 containment
      // policy. The contract is "k counts iff the space-trimmed text is an
      // in-range integer", enforced by the SAME regex gate on both sides:
      // a bare try_cast also accepted control-char padding ('\t7' → 7,
      // Spark's cast trims every char <= 0x20) that the oracle's
      // space-only trim + regex rejected — a fixture-dormant hash fork
      // (r11 review, probed both engines; DuckDB TRY_CAST alone ROUNDS
      // '50.5' to 51 — r10 review)
      // the extraction is its OWN projection so the JSON document is
      // parsed ONCE per row: inlining trim(get_json_object(..)) into the
      // CASE evaluated the parse up to three times per row (guard + cast
      // arm), a 3.5x isolated regression vs the r10 control adjudicated
      // this round. CollapseProject will not re-inline it — since 3.3 the
      // rule only duplicates cheap expressions (attributes/literals), and
      // get_json_object is neither.
      t(s, dir, "events")
        .select(col("event_type"),
          expr("trim(get_json_object(props, '$.k'))").as("ktxt"))
        .select(col("event_type"),
          expr("""CASE WHEN ktxt RLIKE '^[+-]?[0-9]+$'
                 |  THEN try_cast(ktxt as int)
                 |END""".stripMargin).as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(avg("k"), 4).as("avg_k"),
          max("k").as("max_k"), min("k").as("min_k"))
        .orderBy("event_type")
    }),

    "q23_event_hourly" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
            .as("hour_bucket"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), msum(col("value")).as("sum_value"))
        .orderBy("hour_bucket", "event_type")
    }),
  )

  /** Money-sum fragment for the oracle SQL (DuckDB dialect). */
  private[operators] def oSum(x: String): String =
    s"CAST(SUM(${oMoney(x)}) AS DOUBLE)"
  /** The bare money cast, for window-framed oracle sums (q46). */
  private[operators] def oMoney(x: String): String =
    s"CAST($x AS DECIMAL(12,2))"
  private def oDisc(e: String, d: String): String =
    s"CAST(SUM(CAST($e AS DECIMAL(12,2)) * (1 - CAST($d AS DECIMAL(4,2)))) AS DOUBLE)"

  val oracle: Map[String, String] = ListMap(
    "q01_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         | ${oSum("l_quantity")} AS sum_qty,
         | ${oSum("l_extendedprice")} AS sum_base_price,
         | ${oDisc("l_extendedprice", "l_discount")} AS sum_disc_price,
         | ROUND(AVG(l_quantity),4) AS avg_qty,
         | ROUND(AVG(l_extendedprice),4) AS avg_price,
         | ROUND(AVG(l_discount),4) AS avg_disc,
         | COUNT(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
        | strftime(l_shipdate, '%Y-%m-%d') AS ship_date
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1997-01-01 00:00:00'
        |  AND TIMESTAMP '1997-03-31 00:00:00'
        | AND l_discount >= 0.05 AND l_quantity < 10
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q03_top_revenue_orders" ->
      s"""SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
         | ${oDisc("l_extendedprice", "l_discount")} AS revenue
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON o_orderkey = l_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |GROUP BY o_orderkey, o_orderdate
         |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,

    "q04_priority_semi_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q05_nation_revenue" ->
      s"""SELECT n_name, ${oDisc("l_extendedprice", "l_discount")} AS revenue
         |FROM region
         |JOIN nation ON n_regionkey = r_regionkey
         |JOIN customer ON c_nationkey = n_nationkey
         |JOIN orders ON o_custkey = c_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
         |WHERE r_name = 'ASIA'
         |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,

    "q06_promo_revenue" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |   * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS promo_revenue,
        | COUNT(*) AS n_rows
        |FROM lineitem
        |WHERE year(l_shipdate) = 1997 AND l_discount BETWEEN 0.03 AND 0.07
        | AND l_quantity < 24""".stripMargin,

    "q07_customers_without_orders" ->
      s"""SELECT c_mktsegment, COUNT(*) AS n_customers,
         | ${oSum("c_acctbal")} AS total_acctbal
         |FROM customer c
         |WHERE NOT EXISTS (SELECT 1 FROM orders o
         |  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q08_order_count_histogram" ->
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey) t
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q09_top_orders_per_customer" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INT) AS rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |   ROW_NUMBER() OVER (PARTITION BY o_custkey
        |     ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    "q10_running_total" ->
      """SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
        |   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |   AS running_total
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q11_lag_moving_avg" ->
      """SELECT o_custkey, o_orderkey,
        | LAG(o_totalprice) OVER (PARTITION BY o_custkey
        |   ORDER BY o_orderdate, o_orderkey) AS prev_price,
        | ROUND(AVG(o_totalprice) OVER (PARTITION BY o_custkey
        |   ORDER BY o_orderdate, o_orderkey
        |   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),4) AS ma3
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q12_rollup" ->
      s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
         | ${oSum("l_quantity")} AS sum_qty,
         | CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
         | CAST(GROUPING(l_linestatus) AS INT) AS g_status
         |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         |ORDER BY l_returnflag ASC NULLS FIRST,
         | l_linestatus ASC NULLS FIRST, g_flag, g_status""".stripMargin,

    "q13_cube" ->
      s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
         | ${oSum("o_totalprice")} AS total,
         | CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
         | CAST(GROUPING(o_orderpriority) AS INT) AS g_priority
         |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
         |ORDER BY o_orderstatus ASC NULLS FIRST,
         | o_orderpriority ASC NULLS FIRST, g_status, g_priority""".stripMargin,

    "q14_set_ops" ->
      """WITH c AS (SELECT DISTINCT c_nationkey AS k FROM customer),
        | s AS (SELECT DISTINCT s_nationkey AS k FROM supplier)
        |SELECT 'both' AS tag, k FROM (SELECT k FROM c INTERSECT SELECT k FROM s)
        |UNION ALL
        |SELECT 'cust_only' AS tag, k FROM (SELECT k FROM c EXCEPT SELECT k FROM s)
        |UNION ALL
        |SELECT 'supp_only' AS tag, k FROM (SELECT k FROM s EXCEPT SELECT k FROM c)
        |ORDER BY tag, k""".stripMargin,

    "q15_string_funcs" ->
      """SELECT p_partkey, UPPER(p_name) AS uname, LENGTH(p_name) AS name_len,
        | SUBSTRING(p_name, 1, 5) AS prefix,
        | REPLACE(p_brand, '#', '-') AS brand_dash,
        | p_type || ':' || CAST(p_size AS VARCHAR) AS type_size,
        | regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
        | REVERSE(p_name) AS rname,
        | LPAD(CAST(p_partkey AS VARCHAR), 8, '0') AS key_pad
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q16_date_funcs" ->
      s"""SELECT CAST(year(o_orderdate) AS INT) AS y,
         | CAST(month(o_orderdate) AS INT) AS m,
         | COUNT(*) AS n_orders, ${oSum("o_totalprice")} AS total,
         | strftime(MIN(o_orderdate), '%Y-%m-%d') AS first_day,
         | strftime(MAX(o_orderdate), '%Y-%m-%d') AS last_day
         |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q17_conditional_agg" ->
      """SELECT l_linestatus,
        | CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_returned,
        | CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        | ROUND(AVG(CASE WHEN l_returnflag = 'N' THEN l_extendedprice END),4)
        |   AS avg_price_n,
        | COUNT(*) AS n
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "q18_having" ->
      s"""SELECT c_nationkey, COUNT(*) AS n_customers,
         | ${oSum("c_acctbal")} AS total_bal
         |FROM customer GROUP BY c_nationkey HAVING COUNT(*) > 5
         |ORDER BY c_nationkey""".stripMargin,

    "q19_topk_parts" ->
      """SELECT p_partkey, p_name, p_retailprice FROM part
        |ORDER BY p_retailprice DESC, p_partkey LIMIT 10""".stripMargin,

    "q20_math_funcs" ->
      """SELECT p_partkey, p_size % 5 AS size_mod,
        | CAST(FLOOR(p_retailprice) AS BIGINT) AS price_floor,
        | CAST(CEIL(p_retailprice) AS BIGINT) AS price_ceil,
        | ABS(p_size - 25) AS size_dev,
        | ROUND(SQRT(p_retailprice), 6) AS price_sqrt,
        | ROUND(LN(p_retailprice + 1), 6) AS price_ln,
        | CAST(POW(CAST(p_size AS DOUBLE), 2) AS BIGINT) AS size_sq
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q21_array_funcs" ->
      """SELECT vec_id, CAST(len(embedding) AS INT) AS dim,
        | CAST(embedding[1] AS DOUBLE) AS e_first,
        | CAST(embedding[len(embedding)] AS DOUBLE) AS e_last,
        | CAST(list_max(embedding) AS DOUBLE) AS e_max,
        | CAST(list_min(embedding) AS DOUBLE) AS e_min
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    // guarded like the engine's try_cast: only an in-range INTEGER text
    // counts — the bare CAST hard-errored on malformed props or '50.5'
    // (which TRY_CAST alone would ROUND, not null; probed)
    "q22_json_funcs" ->
      """WITH j AS (SELECT event_type,
        |  CASE WHEN json_valid(props) AND regexp_matches(
        |         trim(coalesce(json_extract_string(props, '$.k'), '')),
        |         '^[+-]?[0-9]+$')
        |   THEN TRY_CAST(trim(json_extract_string(props, '$.k')) AS INT)
        |  END AS k FROM events)
        |SELECT event_type, COUNT(*) AS n,
        | ROUND(AVG(k), 4) AS avg_k,
        | MAX(k) AS max_k,
        | MIN(k) AS min_k
        |FROM j GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q23_event_hourly" ->
      s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_bucket,
         | event_type, COUNT(*) AS n, ${oSum("value")} AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
  )
}
