package graft.operators

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QuerySuite, Tables}

/** Behavioral event analytics over the `events` stream table: the
  * product-analytics operator family (funnel conversion, cohort
  * retention, next-event transition matrices, path mining) that a
  * clickstream warehouse runs daily beside the relational core.
  *
  * Scale posture shared by all four: every per-user reduction is an
  * ordinary aggregation (map-side combinable, AQE-skew-splittable) or a
  * window PARTITIONED BY user_id — a key whose cardinality scales with
  * the data, so no stratum can own a single sorted task the way a
  * content-keyed window would (the round-4 de-skew rule). Cross-user
  * rollups happen only after the per-user reduction, on outputs bounded
  * by users × a small constant (stages, weeks, event-type pairs), and
  * every ratio is integer fixed point (ppm via BIGINT floor division) so
  * the DuckDB oracle hashes bit-equal under any partial-agg schedule.
  */
object EventAnalytics extends QuerySuite {
  private def events(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")

  val queries: Map[String, Q] = ListMap(
    // Ordered conversion funnel view → click → purchase: a user advances
    // a stage only with a LATER event of the next type (min-ts chaining),
    // so out-of-order activity (a click before any view) doesn't count —
    // the semantics dashboards get wrong when they just intersect type
    // sets. Three chained conditional-min aggregations, each a user-keyed
    // equi-join against the previous stage's (user, ts) output — the
    // stage tables only ever shrink, and the final stage counts are
    // one-row aggregates crossed against a broadcast base count.
    "ev01_funnel" -> ((s, dir) =>
      funnelStages(events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts")))),

    // Weekly cohort retention matrix: cohort = Monday-truncated week of a
    // user's FIRST event; a cell counts the cohort's users active in week
    // cohort+offset, with retention as ppm of the cohort's size. Per-user
    // first-week is one aggregation; (user, week) activity is a distinct
    // over week-truncated rows (map-side combinable); the cohort-size
    // join-back attaches a weeks-cardinality aggregate (broadcast).
    "ev02_cohort_retention" -> ((s, dir) => {
      val act = events(s, dir)
        // a null event time would give BOTH engines a NULL week_offset
        // row that Spark's final sort places first and DuckDB's last —
        // drop it on both sides (the ts03/q29 convention); an unstamped
        // event evidences no week of activity anyway. Null USERS drop
        // too: a phantom NULL cohort member inflated cohort_n but could
        // never join into n_active (null keys never match), deflating
        // every retention_ppm by construction (r11 review; the family
        // contract commit e17570b declares, now implements, this)
        .filter(col("ts").isNotNull && col("user_id").isNotNull)
        .select(col("user_id"), date_trunc("week", col("ts")).as("aw"))
        .distinct()
      val first = act.groupBy("user_id").agg(min(col("aw")).as("cohort"))
      val sizes = first.groupBy("cohort").agg(count(lit(1)).as("cohort_n"))
      act.join(first, "user_id")
        .groupBy(col("cohort"),
          expr("datediff(aw, cohort) div 7").as("week_offset"))
        .agg(count(lit(1)).as("n_active"))
        .join(broadcast(sizes), "cohort")
        .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort_week"),
          col("week_offset"), col("n_active"), col("cohort_n"),
          expr("(n_active * 1000000) div cohort_n").as("retention_ppm"))
        .orderBy("cohort_week", "week_offset")
    }),

    // First-order Markov transition matrix over the per-user event
    // sequence: P(next = to | current = from) in ppm. The lead() window
    // partitions by user_id (scales with data); pair counts and per-from
    // totals are both aggregations, and the totals join-back attaches a
    // table bounded by the event-type alphabet (broadcast scalar-sized).
    "ev03_transitions" -> ((s, dir) =>
      transitionMatrix(events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"),
          col("event_id")))),

    // Conversion-lag distribution: seconds from first view to the
    // ordered-funnel purchase (ev01's chain), summarized as exact
    // percentiles. The percentile input is PRE-AGGREGATED to (lag, freq)
    // — the memoized single-group-percentile shape: the UDAF walks
    // NDV-bounded rows, not one row per converted user (at lake scale
    // the freq table is the bounded thing; the q51 approx contract is
    // the unbounded-NDV path). Interpolated quantiles round to 4
    // decimals (the q26 ulp-drift mitigation); the lag itself is an
    // exact integer second count in both engines (floor-epoch
    // difference == boundary-crossing count for positive timestamps).
    "ev05_conversion_lag" -> ((s, dir) => {
      // only the v and p stage tables: the old path paid funnelTimes'
      // full kernel — the distinct-users base scan over ALL events plus
      // three left joins — and then threw away everything but converted
      // users; p already implies the whole chain (r10 review)
      val (v, _, p) = funnelStageTimes(events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts")))
      val lags = p.join(v, "user_id")
        .select((col("pts").cast("long") - col("vts").cast("long"))
          .as("lag_s"))
      lags.groupBy("lag_s").agg(count(lit(1)).as("f"))
        .agg(
          // empty edge case: sum over zero groups is NULL in Spark but the
          // oracle's COUNT(*) is 0 — coalesce so both engines agree when
          // no user completes the funnel
          coalesce(sum(col("f")), lit(0L)).as("n_converted"),
          min(col("lag_s")).as("min_s"),
          round(expr("percentile(lag_s, 0.5, f)"), 4).as("med_s"),
          round(expr("percentile(lag_s, 0.9, f)"), 4).as("p90_s"),
          max(col("lag_s")).as("max_s"))
    }),

    // Path mining: the top-10 opening 3-event paths (first three events
    // per user, ts then event_id order). The rn ≤ 3 filter on row_number
    // is the WindowGroupLimit shape — Spark pushes a map-side per-key
    // top-3 below the shuffle, so the window never sorts a full user
    // history; the path pivot is a per-user aggregation and the final
    // top-10 cut is TakeOrdered (bounded heap per partition). Null event
    // times are dropped: they'd open every affected user's path in Spark
    // (nulls-first window order) but close it in DuckDB.
    "ev04_top_paths" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      // null event_type forks the path string: Spark's concat_ws SKIPS a
      // NULL segment (collapsing 'NULL>view>click' into a 2-step path
      // that merges with genuine ones) while the oracle's || operator
      // null-propagates the whole path — drop typeless events, and null
      // users with them (the family contract), on both sides (r11 review)
      // event_id is the ts tie-break: NULL id sorts first in Spark,
      // last in DuckDB — dropped on both sides like null ts (r14 review)
      val r = events(s, dir)
        .filter(col("ts").isNotNull && col("user_id").isNotNull &&
          col("event_type").isNotNull && col("event_id").isNotNull)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
      r.groupBy("user_id")
        .agg(
          max(when(col("rn") === 1, col("event_type"))).as("e1"),
          max(when(col("rn") === 2, col("event_type"))).as("e2"),
          max(when(col("rn") === 3, col("event_type"))).as("e3"))
        .filter(col("e3").isNotNull)
        .select(concat_ws(">", col("e1"), col("e2"), col("e3")).as("path"))
        .groupBy("path").agg(count(lit(1)).as("n_users"))
        .orderBy(col("n_users").desc, col("path")).limit(10)
    }),
  )

  /** The three chained stage tables (v, c, p) — each one (user_id,
    * min-ts) and only ever shrinking. ev05 consumes just v and p; ev01
    * left-joins all three onto the user base via [[funnelTimes]]. The
    * null-user filter mirrors the oracle's COUNT(DISTINCT user_id) base,
    * which excludes NULL — without it the engine's base counted one
    * phantom user and every stage's conv_ppm skewed (r10 review; st16's
    * mergeLatest pins the same null-user contract).
    */
  private[operators] def funnelStageTimes(ev0: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    // ts filter: a user whose only views carry NULL ts produced a
    // (user, NULL vts) stage row the oracle's COUNT(*) counted but the
    // engine's count(vts) skipped — an unstamped event evidences no stage
    // (r11 review; the oracle's v CTE carries the same filter). The BASE
    // population (funnelTimes) keeps such users — only stage evidence
    // needs a timestamp.
    val ev = ev0.filter(col("user_id").isNotNull && col("ts").isNotNull)
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("vts"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("ts") > col("vts"))
      .groupBy("user_id").agg(min(col("ts")).as("cts"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("ts") > col("cts"))
      .groupBy("user_id").agg(min(col("ts")).as("pts"))
    (v, c, p)
  }

  /** The chained-min funnel TIMES per user over a (user_id, event_type,
    * ts) frame: (user_id, vts, cts, pts) with nulls where a stage was
    * never reached in order. The kernel under ev01 (stage counts) and
    * ev05 (conversion-lag distribution); exposed for planted-fixture
    * specs.
    */
  private[operators] def funnelTimes(ev: DataFrame): DataFrame = {
    val (v, c, p) = funnelStageTimes(ev)
    ev.filter(col("user_id").isNotNull)
      .select(col("user_id")).distinct()
      .join(v, Seq("user_id"), "left")
      .join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
  }

  /** ev01's stage counts over [[funnelTimes]] — one aggregation (count
    * skips nulls per stage column), unpivoted to stage rows.
    */
  private[operators] def funnelStages(ev: DataFrame): DataFrame = {
    funnelTimes(ev)
      .agg(count(lit(1)).as("base_n"), count(col("vts")).as("n_v"),
        count(col("cts")).as("n_c"), count(col("pts")).as("n_p"))
      .select(expr(
        """stack(4,
          | 1, 'any_event', base_n,
          | 2, 'view', n_v,
          | 3, 'click_after_view', n_c,
          | 4, 'purchase_after_click', n_p) AS (stage, stage_name, n_users)
          |""".stripMargin), col("base_n"))
      .select(col("stage"), col("stage_name"), col("n_users"),
        expr("(n_users * 1000000) div base_n").as("conv_ppm"))
      .orderBy("stage")
  }

  /** The ev03 transition matrix over a (user_id, event_type, ts, event_id)
    * frame — spec-drivable like [[funnelStages]].
    */
  private[operators] def transitionMatrix(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    // null-ts drop: Spark's window order puts a null-ts event FIRST in
    // the user's sequence, DuckDB's LAST — different (from, to) pairs
    // (the q29/ev04 convention)
    // null users drop per the family contract (e17570b): the NULL
    // pseudo-user otherwise fuses ALL unattributed events into one fake
    // per-"user" sequence whose transitions are noise (both engines
    // agreed on that noise — this is a semantic fix, aligned both sides).
    // null event_type likewise (ev04's contract — a typeless event
    // otherwise severed the bigram chain and its pairs leaked away via
    // the from_ev equi-join with no declared filter), and null event_id
    // because it is the ts TIE-BREAK: Spark window order puts a NULL id
    // FIRST on a ts tie, DuckDB LAST — different (from, to) pairs (r14
    // review; the q29/ev04 null-ts class)
    val tr = ev.filter(col("ts").isNotNull && col("user_id").isNotNull &&
        col("event_type").isNotNull && col("event_id").isNotNull)
      .select(col("user_id"), col("event_type").as("from_ev"),
        col("ts"), col("event_id"))
      .withColumn("to_ev", lead(col("from_ev"), 1).over(w))
      .filter(col("to_ev").isNotNull)
    val cnts = tr.groupBy("from_ev", "to_ev").agg(count(lit(1)).as("n"))
    val totals = cnts.groupBy("from_ev").agg(sum(col("n")).as("total"))
    cnts.join(broadcast(totals), "from_ev")
      .select(col("from_ev"), col("to_ev"), col("n"),
        expr("(n * 1000000) div total").as("prob_ppm"))
      .orderBy("from_ev", "to_ev")
  }

  /** ONE funnel CTE chain (v → c → p) for ev01 and ev05 — previously
    * copy-pasted verbatim into both oracles, the twin-drift smell the
    * shared sessionOracleSql builder exists to prevent (r10 review). The
    * null-user filter on v mirrors the engines' base contract
    * (COUNT(DISTINCT user_id) excludes NULL): without it the oracle's
    * per-stage COUNT(*) would count a phantom null-user group the engine
    * filters.
    */
  private val funnelCteSql: String =
    """v AS (SELECT user_id, MIN(ts) AS vts FROM events
      |   WHERE event_type = 'view' AND user_id IS NOT NULL
      |     AND ts IS NOT NULL
      |   GROUP BY user_id),
      | c AS (SELECT e.user_id, MIN(e.ts) AS cts FROM events e
      |   JOIN v ON e.user_id = v.user_id
      |   WHERE e.event_type = 'click' AND e.ts > v.vts GROUP BY e.user_id),
      | p AS (SELECT e.user_id, MIN(e.ts) AS pts FROM events e
      |   JOIN c ON e.user_id = c.user_id
      |   WHERE e.event_type = 'purchase' AND e.ts > c.cts
      |   GROUP BY e.user_id)""".stripMargin

  val oracle: Map[String, String] = ListMap(
    "ev01_funnel" ->
      s"""WITH $funnelCteSql,
        | a AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS base_n
        |   FROM events),
        | st AS (
        |  SELECT 1 AS stage, 'any_event' AS stage_name, base_n AS n_users
        |   FROM a
        |  UNION ALL SELECT 2, 'view', CAST(COUNT(*) AS BIGINT) FROM v
        |  UNION ALL SELECT 3, 'click_after_view', CAST(COUNT(*) AS BIGINT)
        |   FROM c
        |  UNION ALL SELECT 4, 'purchase_after_click', CAST(COUNT(*) AS BIGINT)
        |   FROM p)
        |SELECT CAST(stage AS INT) AS stage, stage_name, n_users,
        | (n_users * 1000000) // base_n AS conv_ppm
        |FROM st, a ORDER BY stage""".stripMargin,

    "ev02_cohort_retention" ->
      """WITH act AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS aw
        |   FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        | f AS (SELECT user_id, MIN(aw) AS cohort FROM act GROUP BY user_id),
        | sz AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_n
        |   FROM f GROUP BY cohort),
        | cell AS (SELECT f.cohort,
        |   date_diff('day', f.cohort, act.aw) // 7 AS week_offset,
        |   CAST(COUNT(*) AS BIGINT) AS n_active
        |  FROM act JOIN f ON act.user_id = f.user_id
        |  GROUP BY f.cohort, week_offset)
        |SELECT strftime(cell.cohort, '%Y-%m-%d') AS cohort_week,
        | week_offset, n_active, cohort_n,
        | (n_active * 1000000) // cohort_n AS retention_ppm
        |FROM cell JOIN sz ON cell.cohort = sz.cohort
        |ORDER BY cohort_week, week_offset""".stripMargin,

    "ev03_transitions" ->
      """WITH tr AS (SELECT event_type AS from_ev,
        |   LEAD(event_type) OVER (PARTITION BY user_id
        |     ORDER BY ts, event_id) AS to_ev
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL AND event_id IS NOT NULL),
        | c AS (SELECT from_ev, to_ev, CAST(COUNT(*) AS BIGINT) AS n
        |   FROM tr WHERE to_ev IS NOT NULL GROUP BY from_ev, to_ev),
        | t AS (SELECT from_ev, CAST(SUM(n) AS BIGINT) AS total
        |   FROM c GROUP BY from_ev)
        |SELECT c.from_ev, c.to_ev, c.n,
        | (c.n * 1000000) // t.total AS prob_ppm
        |FROM c JOIN t ON c.from_ev = t.from_ev
        |ORDER BY c.from_ev, c.to_ev""".stripMargin,

    "ev05_conversion_lag" ->
      s"""WITH $funnelCteSql,
        | lag AS (SELECT date_diff('second', v.vts, p.pts) AS lag_s
        |   FROM p JOIN v ON p.user_id = v.user_id)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
        | CAST(MIN(lag_s) AS BIGINT) AS min_s,
        | ROUND(quantile_cont(lag_s, 0.5), 4) AS med_s,
        | ROUND(quantile_cont(lag_s, 0.9), 4) AS p90_s,
        | CAST(MAX(lag_s) AS BIGINT) AS max_s
        |FROM lag""".stripMargin,

    "ev04_top_paths" ->
      """WITH r AS (SELECT user_id, event_type,
        |   ROW_NUMBER() OVER (PARTITION BY user_id
        |     ORDER BY ts, event_id) AS rn
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL AND event_id IS NOT NULL),
        | p AS (SELECT user_id,
        |   MAX(CASE WHEN rn = 1 THEN event_type END) AS e1,
        |   MAX(CASE WHEN rn = 2 THEN event_type END) AS e2,
        |   MAX(CASE WHEN rn = 3 THEN event_type END) AS e3
        |  FROM r WHERE rn <= 3 GROUP BY user_id)
        |SELECT e1 || '>' || e2 || '>' || e3 AS path,
        | CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM p WHERE e3 IS NOT NULL
        |GROUP BY path ORDER BY n_users DESC, path LIMIT 10""".stripMargin,
  )
}
