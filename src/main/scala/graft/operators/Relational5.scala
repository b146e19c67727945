package graft.operators

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QuerySuite, Tables}

/** Fifth tranche: array higher-order functions, bitmap-style bit
  * aggregates, exact median + deterministic mode, and Spark 4 VARIANT
  * ingestion of semi-structured JSON.
  *
  * All four stay order-free / integer-exact so the DuckDB oracle hash
  * cannot move under partial-aggregation reordering (the house
  * determinism policy, DESIGN.md).
  */
object Relational5 extends QuerySuite {
  val queries: Map[String, Q] = ListMap(
    // Array higher-order functions (transform / filter / aggregate /
    // exists / forall) over per-order quantity lists. Scale shape: ONE
    // shuffle builds the per-key array (collect_list rides the regular
    // aggregation path); every lambda after that is row-local codegen'd
    // work — no second shuffle, no explode-and-regroup round trip.
    // Quantities cast to BIGINT so the folds are integer-exact.
    "q52_higher_order" -> ((s, dir) => {
      // null quantities are DROPPED on both sides by declaration (the
      // decoded()/q64 convention): Spark's collect_list silently omits
      // NULLs while DuckDB's list() keeps them, so without the shared
      // filter a null-quantity row shrinks n_items here but not in the
      // oracle, and an all-null group forks has_large/all_positive
      // (0/1 vs NULL) — fixture-dormant, declared anyway (r15 review)
      Tables(s, dir, "lineitem")
        .filter(col("l_orderkey") <= 2000 && col("l_quantity").isNotNull)
        .groupBy("l_orderkey")
        // round-then-cast (the q57 pattern): Spark's bare cast TRUNCATES
        // toward zero while the oracle's CAST rounds — divergent on any
        // non-integral quantity (the fixture's are integral; r10 review)
        .agg(sort_array(collect_list(
          round(col("l_quantity")).cast("long"))).as("qs"))
        .select(
          col("l_orderkey"),
          size(col("qs")).as("n_items"),
          aggregate(col("qs"), lit(0L), (a, x) => a + x).as("total_qty"),
          aggregate(filter(col("qs"), x => x % 2 === 0), lit(0L),
            (a, x) => a + x).as("even_qty"),
          aggregate(transform(col("qs"), x => x * x), lit(0L),
            (a, x) => a + x).as("sum_sq"),
          exists(col("qs"), _ >= 45).cast("int").as("has_large"),
          forall(col("qs"), _ > 0).cast("int").as("all_positive"))
        .orderBy("l_orderkey")
    }),

    // Bitmap-index shape: per (hour, event_type), a presence bitmask of
    // user buckets via bit_or(1 << (user_id % 32)) plus bit_and/bit_xor.
    // Bitwise aggregates are commutative and associative, so partial
    // aggregation on the map side is free and order can't change a bit —
    // the same property that makes roaring-bitmap rollups work at lake
    // scale. One shuffle, no distinct.
    "q53_bit_aggs" -> ((s, dir) => {
      // pmod, not %: a negative user_id gave % a negative remainder, and
      // Spark's shiftleft silently MASKS a negative count to its low 6
      // bits (1L << -5 = 1L << 59) while the oracle's << hard-errors on
      // it — a fixture-dormant fork AND a bogus high mask bit (r11
      // review, probed both engines)
      val mask = expr("shiftleft(1L, cast(pmod(user_id, 32) as int))")
      Tables(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hb"), col("event_type"))
        .agg(
          bit_or(mask).as("user_mask"),
          bit_and(col("user_id")).as("and_users"),
          bit_xor(col("user_id")).as("xor_users"),
          count(lit(1)).as("n"))
        .select(
          date_format(col("hb"), "yyyy-MM-dd HH:mm:ss").as("hour_bucket"),
          col("event_type"), col("user_mask"),
          bit_count(col("user_mask")).as("n_buckets"),
          col("and_users"), col("xor_users"), col("n"))
        .orderBy("hour_bucket", "event_type")
    }),

    // Exact median (integer cents, so the 0.5-interpolation is the IEEE-
    // exact midpoint of two BIGINTs in both engines) plus a DETERMINISTIC
    // mode: most-frequent market segment per nation, ties to the
    // lexicographically smallest. Mode is two ordinary aggregations —
    // count per (nation, segment), then min(struct(-cnt, segment)) per
    // nation — never a per-key window, so no stratum lands on one task.
    "q54_median_mode" -> ((s, dir) => {
      val c = Tables(s, dir, "customer").select(
        col("c_nationkey"),
        round(col("c_acctbal") * 100).cast("long").as("cents"),
        col("c_mktsegment"))
      val med = c.groupBy("c_nationkey")
        .agg(median(col("cents")).as("median_cents"),
          count(lit(1)).as("n_cust"))
      val mode = c.groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("cnt"))
        .groupBy("c_nationkey")
        .agg(min(struct((-col("cnt")).as("neg"), col("c_mktsegment").as("seg")))
          .as("m"))
        .select(col("c_nationkey"), col("m.seg").as("mode_segment"),
          (-col("m.neg")).as("mode_count"))
      med.join(mode, Seq("c_nationkey"))
        .select(col("c_nationkey").as("nationkey"), col("n_cust"),
          col("median_cents"), col("mode_segment"), col("mode_count"))
        .orderBy("nationkey")
    }),

    // Spark 4 VARIANT ingestion: try_parse_json once into the binary
    // VARIANT encoding, then typed path extraction — the shred-on-read
    // pattern for semi-structured columns, with q47's row-level error
    // containment on BOTH steps: the strict parse_json ABORTED the whole
    // query on one malformed props row, and the strict variant_get did
    // the same on a non-int-castable k (r11 review, probed). try_* keeps
    // bad rows as NULLs, exactly as the oracle's json_valid + TRY_CAST
    // guards do; both engines TRUNCATE a fractional k (probed: 2.7 → 2,
    // −2.7 → −2 through try_variant_get AND the oracle's TRUNC chain).
    "vr01_variant" -> ((s, dir) => {
      val v = try_parse_json(col("props"))
      Tables(s, dir, "events")
        .select(col("event_type"),
          try_variant_get(v, "$.k", "int").as("k"),
          try_variant_get(v, "$.missing", "int").as("m"))
        .groupBy("event_type")
        .agg(count(col("k")).as("n_k"),
          sum(col("k").cast("long")).as("sum_k"),
          max(col("k")).as("max_k"),
          (count(lit(1)) - count(col("m"))).as("n_missing"))
        .orderBy("event_type")
    }),

    // K-anonymity audit over the (nationkey, mktsegment) quasi-identifier
    // — the privacy gate a training-data release runs beside tx11's PII
    // redaction: any equivalence class smaller than k re-identifies its
    // members. One aggregation, integer re-identification risk in micros
    // (1e6 / class size, truncating), suppression flag per class.
    "pa01_k_anonymity" -> ((s, dir) => {
      Tables(s, dir, "customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("class_size"))
        .select(col("c_nationkey"), col("c_mktsegment"), col("class_size"),
          (col("class_size") >= 15L).cast("int").as("k_anonymous"),
          expr("1000000 div class_size").as("risk_micro"))
        .orderBy("c_nationkey", "c_mktsegment")
    }),

    // Join-key skew profile: the diagnostic that decides whether a join
    // needs `Skew.saltedJoin` (q50). Per-key counts partial-aggregate
    // map-side; the top-10 cut is TakeOrdered (a bounded heap per
    // partition + one tiny merge, never a full sort); corpus totals ride
    // a broadcast 1-row scalar. share_micro = key share of all rows,
    // skew_x_micro = that share relative to uniform (share × n_keys).
    "q55_skew_profile" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem").select(col("l_suppkey"))
      // materialized: counts feeds BOTH the totals scalar and the top-10
      // cut, and as bare lineage the fact table was scanned + aggregated
      // twice per run (the zero-exchange-reuse shape q59 fixed the same
      // way — r11 review); the per-key count table is NDV-bounded, tiny
      val counts = Scratch.materialized(
        li.groupBy("l_suppkey").agg(count(lit(1)).as("cnt")),
        "q55_counts", dir)
      val totals = counts.agg(sum(col("cnt")).as("total"),
        count(lit(1)).as("n_keys"))
      counts.orderBy(col("cnt").desc, col("l_suppkey")).limit(10)
        .crossJoin(broadcast(totals))
        .select(col("l_suppkey"), col("cnt"),
          expr("(cnt * 1000000) div total").as("share_micro"),
          expr("(cnt * n_keys * 1000000) div total").as("skew_x_micro"))
        .orderBy(col("cnt").desc, col("l_suppkey"))
    }),

    // Ordered string aggregation — Spark 4's LISTAGG ... WITHIN GROUP
    // (ORDER BY ...), which pins the concatenation order so the result is
    // deterministic under any partial-aggregation schedule (bare listagg /
    // collect_list order is partition-arrival nondeterminism).
    "q56_listagg" -> ((s, dir) => {
      Tables(s, dir, "supplier")
        .groupBy("s_nationkey")
        .agg(
          expr("listagg(s_name, ',') WITHIN GROUP (ORDER BY s_name)")
            .as("names"),
          count(lit(1)).as("n_supp"))
        .orderBy("s_nationkey")
    }),

    // Map higher-order functions: build an integer metric map per line
    // item, transform_values (×2), map_zip_with against the original
    // (original + doubled = tripled), map_filter (keep even), then explode
    // to scalar (key, value) rows — all row-local after the scan; the map
    // never crosses a shuffle. The oracle computes the same rows
    // relationally (maps stay an engine-internal shape, not an output
    // contract).
    "q57_map_higher_order" -> ((s, dir) => {
      val m = map_from_arrays(
        array(lit("disc"), lit("price"), lit("qty")),
        array(round(col("l_discount") * 100).cast("long"),
          round(col("l_extendedprice") * 100).cast("long"),
          round(col("l_quantity")).cast("long")))
      Tables(s, dir, "lineitem").filter(col("l_orderkey") <= 200)
        .select(col("l_orderkey"), col("l_linenumber"), m.as("m"))
        .select(col("l_orderkey"), col("l_linenumber"),
          map_filter(
            map_zip_with(col("m"),
              transform_values(col("m"), (_, v) => v * 2L),
              (_, a, b) => a + b),
            (_, v) => v % 2L === 0L).as("f"))
        .select(col("l_orderkey"), col("l_linenumber"),
          explode(col("f")).as(Seq("k", "v")))
        .orderBy("l_orderkey", "l_linenumber", "k")
    }),

    // Calendar arithmetic battery: month-offset with end-of-month clamping
    // (add_months), last_day, quarter truncation, ISO week, day-of-week,
    // day deltas — all row-local, and every derived date leaves as a
    // formatted string (raw DATE columns drift dtypes across engines).
    "q58_date_arith" -> ((s, dir) => {
      val d = col("o_orderdate")
      Tables(s, dir, "orders").filter(col("o_orderkey") <= 500)
        .select(col("o_orderkey"),
          date_format(d, "yyyy-MM-dd").as("d"),
          date_format(add_months(d, 3), "yyyy-MM-dd").as("plus3m"),
          date_format(last_day(d), "yyyy-MM-dd").as("month_end"),
          date_format(date_trunc("quarter", d), "yyyy-MM-dd").as("q_start"),
          quarter(d).as("qtr"),
          dayofweek(d).as("dow"),
          weekofyear(d).as("iso_week"),
          datediff(lit("1998-01-01").cast("date"), d).as("days_to_98"))
        .orderBy("o_orderkey")
    }),

    // Equi-depth histogram — the NDV/statistics-build shape (optimizer
    // column stats, equi-height histograms). Boundaries are RANK-BASED
    // (type-1 discrete) quartiles: boundary_p = the value at 0-based rank
    // ⌊p·(n−1)⌋ — pure BIGINT arithmetic, so both engines agree by
    // construction (and both state the same cum>idx lookup, no quantile
    // builtin to reconcile). Pipeline: parallel hash-agg to (value, freq)
    // [NDV-sized], then the shared DistributedCumsum prefix sum over the
    // NDV rows (per-value-range-bucket cumsum + broadcast triangular
    // offsets — see that object's scaladoc; this was the suite's last
    // single-partition data window before the bucket treatment). Three
    // rank lookups fold into one tiny aggregate, broadcast back into a
    // row-local bucket assignment + weighted 4-group count. At lake scale
    // with unbounded NDV the boundaries would come from approx_percentile
    // under q51's accuracy contract — the bucket pass is unchanged.
    "q59_equidepth_hist" -> ((s, dir) => {
      // The (value, freq) reduction feeds FOUR subtrees (global stats,
      // per-bucket sums, the cumsum, the final histogram); left as lineage
      // the plan re-scans lineitem once per subtree with zero exchange
      // reuse (measured: 7 parquet scans, isolated 2.4 s vs 1.6 s). The
      // NDV-sized aggregate is materialized once through the scratch
      // cache — the standard stats-build shape: one corpus scan, then
      // every pass runs over the tiny (value, freq) table.
      val counts = Scratch.materialized(
        Tables(s, dir, "lineitem")
          .select(round(col("l_extendedprice") * 100).cast("long").as("cents"))
          .groupBy("cents").agg(count(lit(1)).as("freq")),
        "q59_counts", dir)
      val bounds = DistributedCumsum.rankBoundaries(counts, "cents", "freq",
        Seq(("b1", 1, 4), ("b2", 1, 2), ("b3", 3, 4)))
      counts.crossJoin(broadcast(bounds))
        .select(col("cents"), col("freq"),
          (lit(1) + (col("cents") > col("b1")).cast("int")
            + (col("cents") > col("b2")).cast("int")
            + (col("cents") > col("b3")).cast("int")).as("bucket"))
        .groupBy("bucket")
        .agg(sum(col("freq")).as("n"),
          min(col("cents")).as("min_cents"),
          max(col("cents")).as("max_cents"))
        .orderBy("bucket")
    }),

    // l-diversity audit — pa01's k-anonymity sibling: a quasi-identifier
    // class can be large (k-anonymous) yet still leak if every member
    // shares the same SENSITIVE value (here: whether the account is in
    // debt). l = distinct sensitive values per class; classes with l = 1
    // disclose the attribute for every member. One aggregation with an
    // exact distinct over a 2-value domain (the Expand is bounded), no
    // window.
    "pa02_l_diversity" -> ((s, dir) => {
      Tables(s, dir, "customer")
        .select(col("c_nationkey"), col("c_mktsegment"),
          (col("c_acctbal") < 0).cast("int").as("in_debt"))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("class_size"),
          countDistinct(col("in_debt")).as("l_diversity"))
        .select(col("c_nationkey"), col("c_mktsegment"), col("class_size"),
          col("l_diversity"),
          (col("l_diversity") >= 2L).cast("int").as("diverse"))
        .orderBy("c_nationkey", "c_mktsegment")
    }),

    // Fuzzy entity matching — the record-linkage kernel with DELETION-
    // NEIGHBORHOOD candidate generation (the SymSpell/symmetric-delete
    // idea): each name emits itself plus every single-character deletion,
    // and any pair at edit distance ≤ 1 PROVABLY shares a variant (equal
    // length ⇒ one substitution ⇒ the deletion at the differing position
    // coincides; length ±1 ⇒ one side IS a deletion of the other). So the
    // candidate equi-join on (nation, variant) is recall-COMPLETE for the
    // emitted threshold — the contract is pure edit-distance semantics,
    // no blocking recall trade — and blocks are tiny by construction
    // (names sharing a deletion agree on every other character), so the
    // pair space is ~linear in the data where prefix blocking degenerates
    // to all-pairs-per-block on low-entropy prefixes. Exact Levenshtein
    // then decides on the deduplicated candidates.
    "er01_fuzzy_match" -> ((s, dir) => {
      // the dist <= 1 verification filter below is exactly the pattern
      // BoundedLevenshteinRule bands (quadratic → O(k·len) kernel); ensure
      // the rule is installed even on a plain session — only extensions-
      // configured sessions had it, so Verify/Bench ran the full kernel
      // (r17 review)
      graft.plans.BoundedLevenshteinRule.register(s)
      // the exploded variant frame is MATERIALIZED once (the r15 deferred
      // restructure): as lineage, the customer scan + O(len) deletion-
      // neighborhood explode re-ran on BOTH sides of the self-join; from
      // scratch parquet the two sides are cheap re-reads of one small
      // (|customers| × ~name-length rows) table.
      // deletion neighborhood via the DeletionVariants codegen kernel
      // (r21): the SQL spelling — array_union(array(c_name),
      // transform(sequence(1, length(c_name)), i -> concat(substring(...),
      // substring(...)))) — dispatched an interpreted per-character lambda
      // for every name; DeletionVariantsSpec pins kernel == that form.
      val c = Scratch.materialized(
        Tables(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey"), col("c_name"))
          .withColumn("v", explode(
            graft.functions.GraftFunctions.deletion_variants(col("c_name")))),
        "er01_variants", dir)
      val a = c.select(col("c_custkey").as("id1"),
        col("c_nationkey").as("n1"), col("c_name").as("name1"), col("v"))
      val b = c.select(col("c_custkey").as("id2"),
        col("c_nationkey").as("n2"), col("c_name").as("name2"),
        col("v").as("v2"))
      // NOTE (r21 plan audit): the dist <= 1 filter need not move below
      // the distinct by hand — name1/name2 are grouping keys, so Catalyst
      // already pushes the BANDED predicate (BoundedLevenshteinRule) all
      // the way into the candidate join's condition; the distinct only
      // ever shuffles surviving pairs. Verified in
      // plans/r21/er01_fuzzy_match_before.txt line 57.
      a.join(b, col("v") === col("v2") && col("n1") === col("n2")
          && col("id1") < col("id2"))
        .select(col("id1"), col("id2"), col("name1"), col("name2"))
        .distinct()
        .withColumn("dist", levenshtein(col("name1"), col("name2")))
        .filter(col("dist") <= 1)
        .orderBy("id1", "id2")
    }),

    // Distribution ranks per CUSTOMER history (ntile quartile,
    // percent_rank, cume_dist): the windows partition by a key whose
    // cardinality scales with the data — per-customer order counts are
    // bounded — never by a fixed stratum. The rank ratios are integer
    // divisions evaluated identically in IEEE double by both engines.
    "q60_distribution_ranks" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(asc("o_totalprice"), asc("o_orderkey"))
      Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .withColumn("quartile", ntile(4).over(w))
        .withColumn("pct_rank", round(percent_rank().over(w), 6))
        .withColumn("cume", round(cume_dist().over(w), 6))
        .orderBy("o_orderkey")
    }),
  )

  val oracle: Map[String, String] = ListMap(
    "q52_higher_order" ->
      """WITH g AS (SELECT l_orderkey,
        |   list(CAST(round(l_quantity) AS BIGINT)
        |        ORDER BY CAST(round(l_quantity) AS BIGINT)) AS qs
        | FROM lineitem
        | WHERE l_orderkey <= 2000 AND l_quantity IS NOT NULL
        | GROUP BY l_orderkey)
        |SELECT l_orderkey, len(qs) AS n_items,
        | CAST(COALESCE(list_sum(qs), 0) AS BIGINT) AS total_qty,
        | CAST(COALESCE(list_sum(list_filter(qs, x -> x % 2 = 0)), 0) AS BIGINT)
        |   AS even_qty,
        | CAST(COALESCE(list_sum(list_transform(qs, x -> x * x)), 0) AS BIGINT)
        |   AS sum_sq,
        | CAST(list_bool_or(list_transform(qs, x -> x >= 45)) AS INT) AS has_large,
        | CAST(list_bool_and(list_transform(qs, x -> x > 0)) AS INT) AS all_positive
        |FROM g ORDER BY l_orderkey""".stripMargin,

    "q53_bit_aggs" ->
      """WITH b AS (SELECT date_trunc('hour', ts) AS hb, event_type,
        |   CAST(1 AS BIGINT) << CAST(((user_id % 32) + 32) % 32 AS INT) AS mask,
        |   CAST(user_id AS BIGINT) AS uid FROM events)
        |SELECT strftime(hb, '%Y-%m-%d %H:%M:%S') AS hour_bucket, event_type,
        | bit_or(mask) AS user_mask,
        | CAST(bit_count(bit_or(mask)) AS INT) AS n_buckets,
        | bit_and(uid) AS and_users, bit_xor(uid) AS xor_users,
        | COUNT(*) AS n
        |FROM b GROUP BY hb, event_type
        |ORDER BY hour_bucket, event_type""".stripMargin,

    "q54_median_mode" ->
      """WITH c AS (SELECT c_nationkey,
        |   CAST(round(c_acctbal * 100) AS BIGINT) AS cents, c_mktsegment
        | FROM customer),
        | med AS (SELECT c_nationkey, median(cents) AS median_cents,
        |   COUNT(*) AS n_cust FROM c GROUP BY c_nationkey),
        | seg AS (SELECT c_nationkey, c_mktsegment, COUNT(*) AS cnt
        |   FROM c GROUP BY 1, 2),
        | md AS (SELECT c_nationkey, c_mktsegment AS mode_segment,
        |   cnt AS mode_count
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY c_nationkey
        |      ORDER BY cnt DESC, c_mktsegment) AS rn FROM seg)
        |  WHERE rn = 1)
        |SELECT med.c_nationkey AS nationkey, n_cust, median_cents,
        | mode_segment, mode_count
        |FROM med JOIN md ON med.c_nationkey = md.c_nationkey
        |ORDER BY nationkey""".stripMargin,

    "vr01_variant" ->
      """WITH j AS (SELECT event_type,
        |  CASE WHEN json_valid(props) THEN
        |    TRY_CAST(TRUNC(TRY_CAST(json_extract(props, '$.k') AS DOUBLE))
        |      AS INT) END AS k,
        |  CASE WHEN json_valid(props) THEN
        |    TRY_CAST(TRUNC(TRY_CAST(json_extract(props, '$.missing')
        |      AS DOUBLE)) AS INT) END AS m
        | FROM events)
        |SELECT event_type,
        | COUNT(k) AS n_k,
        | CAST(SUM(CAST(k AS BIGINT)) AS BIGINT) AS sum_k,
        | MAX(k) AS max_k,
        | COUNT(*) - COUNT(m) AS n_missing
        |FROM j GROUP BY event_type ORDER BY event_type""".stripMargin,

    "pa01_k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment, COUNT(*) AS class_size,
        | CAST(COUNT(*) >= 15 AS INT) AS k_anonymous,
        | 1000000 // COUNT(*) AS risk_micro
        |FROM customer GROUP BY c_nationkey, c_mktsegment
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,

    "q55_skew_profile" ->
      """WITH c AS (SELECT l_suppkey, COUNT(*) AS cnt FROM lineitem
        |   GROUP BY l_suppkey),
        | t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total,
        |   COUNT(*) AS n_keys FROM c),
        | top AS (SELECT * FROM c ORDER BY cnt DESC, l_suppkey LIMIT 10)
        |SELECT l_suppkey, cnt,
        | (cnt * 1000000) // total AS share_micro,
        | (cnt * n_keys * 1000000) // total AS skew_x_micro
        |FROM top, t ORDER BY cnt DESC, l_suppkey""".stripMargin,

    "q56_listagg" ->
      """SELECT s_nationkey,
        | string_agg(s_name, ',' ORDER BY s_name) AS names,
        | COUNT(*) AS n_supp
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,

    "q57_map_higher_order" ->
      """WITH li AS (SELECT l_orderkey, l_linenumber,
        |   CAST(round(l_discount * 100) AS BIGINT) AS disc,
        |   CAST(round(l_extendedprice * 100) AS BIGINT) AS price,
        |   CAST(round(l_quantity) AS BIGINT) AS qty
        | FROM lineitem WHERE l_orderkey <= 200),
        | e AS (
        |  SELECT l_orderkey, l_linenumber, 'disc' AS k, 3 * disc AS v FROM li
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'price', 3 * price FROM li
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'qty', 3 * qty FROM li)
        |SELECT l_orderkey, l_linenumber, k, v FROM e
        |WHERE v % 2 = 0
        |ORDER BY l_orderkey, l_linenumber, k""".stripMargin,

    // DuckDB's +INTERVAL clamps to month end exactly like add_months;
    // dow is 0=Sunday there vs Spark's 1=Sunday, hence the +1.
    "q58_date_arith" ->
      """SELECT o_orderkey,
        | strftime(o_orderdate, '%Y-%m-%d') AS d,
        | strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3m,
        | strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d')
        |   AS month_end,
        | strftime(date_trunc('quarter', o_orderdate), '%Y-%m-%d') AS q_start,
        | CAST(quarter(o_orderdate) AS INT) AS qtr,
        | CAST(date_part('dow', o_orderdate) + 1 AS INT) AS dow,
        | CAST(week(o_orderdate) AS INT) AS iso_week,
        | CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01')
        |   AS INT) AS days_to_98
        |FROM orders WHERE o_orderkey <= 500 ORDER BY o_orderkey""".stripMargin,

    // The same rank lookup stated directly: value at 0-based rank
    // ⌊p·(n−1)⌋ = min value whose cumulative count exceeds the rank.
    "q59_equidepth_hist" ->
      """WITH c AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT)
        |   AS cents FROM lineitem),
        | f AS (SELECT cents, COUNT(*) AS freq FROM c GROUP BY cents),
        | t AS (SELECT CAST(SUM(freq) AS BIGINT) AS n FROM f),
        | cm AS (SELECT cents, freq, SUM(freq) OVER (ORDER BY cents
        |   ROWS UNBOUNDED PRECEDING) AS cum FROM f),
        | q AS (SELECT
        |   MIN(CASE WHEN cum > (n - 1) // 4 THEN cents END) AS b1,
        |   MIN(CASE WHEN cum > (n - 1) // 2 THEN cents END) AS b2,
        |   MIN(CASE WHEN cum > ((n - 1) * 3) // 4 THEN cents END) AS b3
        |  FROM cm, t)
        |SELECT 1 + CAST(cents > b1 AS INT) + CAST(cents > b2 AS INT)
        |   + CAST(cents > b3 AS INT) AS bucket,
        | COUNT(*) AS n, MIN(cents) AS min_cents, MAX(cents) AS max_cents
        |FROM c, q GROUP BY 1 ORDER BY bucket""".stripMargin,

    "pa02_l_diversity" ->
      """SELECT c_nationkey, c_mktsegment, COUNT(*) AS class_size,
        | COUNT(DISTINCT CAST(c_acctbal < 0 AS INT)) AS l_diversity,
        | CAST(COUNT(DISTINCT CAST(c_acctbal < 0 AS INT)) >= 2 AS INT)
        |   AS diverse
        |FROM customer GROUP BY c_nationkey, c_mktsegment
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,

    // Deletion-neighborhood candidates are recall-complete at ed ≤ 1, so
    // the oracle states the PURE edit-distance contract — all same-nation
    // pairs, no blocking (tractable at oracle scale).
    "er01_fuzzy_match" ->
      """SELECT a.c_custkey AS id1, b.c_custkey AS id2,
        | a.c_name AS name1, b.c_name AS name2,
        | CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
        |FROM customer a JOIN customer b
        | ON a.c_nationkey = b.c_nationkey AND b.c_custkey > a.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY id1, id2""".stripMargin,

    "q60_distribution_ranks" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        | CAST(ntile(4) OVER w AS INT) AS quartile,
        | ROUND(percent_rank() OVER w, 6) AS pct_rank,
        | ROUND(cume_dist() OVER w, 6) AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,
  )
}
