package graft.operators

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QuerySuite, Tables}

/** Temporal join operators Spark lacks as built-ins: AS-OF join and
  * range/interval join (builder brief: custom operators, preference (a) —
  * composed from existing ops, no custom plan needed).
  *
  * Both are oracle-gated: DuckDB has a native `ASOF LEFT JOIN`, and the
  * range join is a plain inequality join there.
  */
object TemporalJoins extends QuerySuite {
  /** AS-OF join: attach to each left row the LATEST right row with
    * `right.ts <= left.ts` within the same key.
    *
    * Spark-first shape: NOT a join at all — union both sides and take a
    * running `last(..., ignoreNulls)` over a (key, ts)-ordered window. ONE
    * shuffle on the key, no O(|left|×|right per key|) pair blowup, stays
    * in whole-stage codegen (WindowExec). The right side sorts BEFORE the
    * left at equal ts (`_side` tiebreak), giving `<=` (ASOF) semantics.
    *
    * `rightPayload` columns must be unambiguous (absent from `left`);
    * callers dedupe the right side to one row per (key, ts) to make the
    * equal-ts answer well-defined. The names `_side`, `_packed` and
    * `_match` are working columns of this implementation — a left frame
    * that already carries one of them fails loudly (AnalysisException on
    * the ambiguous reference), so callers must not use them either.
    */
  def asOf(
      left: DataFrame,
      right: DataFrame,
      key: Seq[String],
      tsCol: String,
      rightPayload: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    val lSel: Seq[Column] = leftCols.map(col) ++ Seq(lit(1).as("_side")) ++
      rightPayload.map(c => lit(null).cast(right.schema(c).dataType).as(c))
    val l = left.select(lSel: _*)
    // a null right ts satisfies no `<=` comparison (ASOF semantics), but
    // would sort FIRST under asc ordering and pollute every match — drop it.
    // Same for null KEYS: `null = null` is never true in a join predicate
    // (DuckDB ASOF and AsOfJoinExec both emit nulls for null-key left
    // rows), but window PARTITIONING groups nulls together — so null-key
    // right rows must go too, or they'd match null-key left rows
    val rSel: Seq[Column] = leftCols.map(c =>
      if (key.contains(c) || c == tsCol) col(c)
      else lit(null).cast(left.schema(c).dataType).as(c)) ++
      Seq(lit(0).as("_side")) ++ rightPayload.map(col)
    val rightUsable = key.foldLeft(col(tsCol).isNotNull) {
      (acc, k) => acc && col(k).isNotNull
    }
    val r = right.filter(rightUsable).select(rSel: _*)
    val w = Window.partitionBy(key.map(col): _*)
      .orderBy(col(tsCol).asc, col("_side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val packed: Seq[Column] = leftCols.map(col) ++ Seq(col("_side"),
      struct(col(tsCol).as("_ts"), struct(rightPayload.map(col): _*).as("_p"))
        .as("_packed"))
    val outSel: Seq[Column] = leftCols.map(col) ++
      Seq(col("_match._ts").as(s"asof_$tsCol")) ++
      rightPayload.map(c => col(s"_match._p.$c").as(c))
    l.unionByName(r)
      .select(packed: _*)
      .withColumn("_match",
        last(when(col("_side") === 0, col("_packed")), ignoreNulls = true).over(w))
      .filter(col("_side") === 1)
      .select(outSel: _*)
  }

  private val TsFmt = "yyyy-MM-dd HH:mm:ss"

  /** aj01/aj02/aj03's shared input frames. Null-ts rows are dropped on
    * BOTH sides: the as-of contract is undefined for a missing timestamp,
    * and the engines genuinely disagree about it — DuckDB ASOF sorts a
    * NULL ts as +infinity (a null-ts purchase matches the user's LATEST
    * signup; a null-ts signup is matchable), while the Spark kernels give
    * null-ts left rows no match and drop null-ts right rows. The oracle
    * CTEs carry the same filter (r13 review wave; confirmed as a live
    * gate failure under null-ts injection).
    */
  private def purchasesAndSignups(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val ev = Tables(s, dir, "events")
    val purchases = ev
      .filter(col("event_type") === "purchase" && col("ts").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts"))
    // one row per (user, ts): equal-ts answer well-defined on both engines
    val signups = ev
      .filter(col("event_type") === "signup" && col("ts").isNotNull)
      .groupBy(col("user_id"), col("ts"))
      .agg(max("event_id").as("signup_id"))
    (purchases, signups)
  }

  val queries: Map[String, Q] = ListMap(
    // For each purchase, the user's latest signup at-or-before it.
    "aj01_asof_join" -> ((s, dir) => {
      val (purchases, signups) = purchasesAndSignups(s, dir)
      asOf(purchases, signups, Seq("user_id"), "ts", Seq("signup_id"))
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), TsFmt).as("ts"),
          date_format(col("asof_ts"), TsFmt).as("signup_ts"),
          col("signup_id"))
        .orderBy(asc("event_id"))
    }),

    // The same as-of semantics through the CUSTOM OPERATOR path
    // (graft.plans.AsOfJoinExec: LogicalPlan + Strategy + physical
    // sort-merge) — hash-gated against the identical DuckDB ASOF oracle,
    // proving the custom exec end to end, not just in specs.
    "aj02_asof_exec" -> ((s, dir) => {
      val (purchases, signups0) = purchasesAndSignups(s, dir)
      val signups = signups0
        .select(col("user_id").as("s_user"), col("ts").as("sts"),
          col("signup_id"))
      graft.plans.AsOfJoinPlan.asOfJoin(purchases, signups,
        Seq("user_id"), Seq("s_user"), "ts", "sts")
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), TsFmt).as("ts"),
          date_format(col("sts"), TsFmt).as("signup_ts"),
          col("signup_id"))
        .orderBy(asc("event_id"))
    }),

    // AS-OF with TOLERANCE: the practical variant — match the latest
    // signup at-or-before the purchase ONLY if it is within 1 hour;
    // otherwise emit nulls. Same one-shuffle union+window kernel; the
    // tolerance is a row-local post-filter on the matched timestamp, so
    // the scale shape is identical to aj01.
    "aj03_asof_tolerance" -> ((s, dir) => {
      val (purchases, signups) = purchasesAndSignups(s, dir)
      val within = col("asof_ts") >= col("ts") - expr("INTERVAL 1 HOUR")
      asOf(purchases, signups, Seq("user_id"), "ts", Seq("signup_id"))
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), TsFmt).as("ts"),
          when(within, date_format(col("asof_ts"), TsFmt)).as("signup_ts"),
          when(within, col("signup_id")).as("signup_id"))
        .orderBy(asc("event_id"))
    }),

    // NEAREST-event as-of join (both directions, ties → backward — the
    // merge_asof direction='nearest' contract): for each purchase, the
    // signup closest in time either way. Same one-shuffle union shape as
    // asOf, but TWO window passes over the one sorted partition — a
    // running last() for the backward candidate and a first() over the
    // following frame for the forward one — then a row-local MICROSECOND
    // distance comparison picks the winner (whole-second truncation tied
    // 10:00:10.900 with 10:00:10.000 and could pick the farther side — a
    // real misclassification on this fixture's µs timestamps, mirrored in
    // the oracle so the gate couldn't see it; r10 review). No join, no
    // per-key pair space. Null guards follow asOf's contract: null-ts or
    // null-key signups match nothing (dropped before the window — under
    // NULLS FIRST they'd pollute every match), and a null-ts purchase
    // emits null match columns on both engines (its window reads would
    // otherwise diverge: Spark sorts it first, DuckDB last).
    "aj04_asof_nearest" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
      val l = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), lit(1).as("_side"),
          col("event_id"), lit(null).cast("long").as("signup_id"))
      val r = ev.filter(col("event_type") === "signup"
          && col("ts").isNotNull && col("user_id").isNotNull)
        .groupBy(col("user_id"), col("ts"))
        .agg(max("event_id").as("signup_id"))
        .select(col("user_id"), col("ts"), lit(0).as("_side"),
          lit(null).cast("long").as("event_id"), col("signup_id"))
      val order = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("_side").asc)
      val wB = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wF = order.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val packed = struct(col("ts").as("_ts"), col("signup_id").as("_id"))
      val u = l.unionByName(r)
        .withColumn("_b",
          last(when(col("_side") === 0, packed), ignoreNulls = true).over(wB))
        .withColumn("_f",
          first(when(col("_side") === 0, packed), ignoreNulls = true).over(wF))
        .filter(col("_side") === 1)
      val bd = unix_micros(col("ts")) - unix_micros(col("_b._ts"))
      val fd = unix_micros(col("_f._ts")) - unix_micros(col("ts"))
      val useB = col("_f").isNull || (col("_b").isNotNull && bd <= fd)
      val hasTs = col("ts").isNotNull
      u.select(col("event_id"), col("user_id"),
        date_format(col("ts"), TsFmt).as("ts"),
        when(hasTs, date_format(
          when(useB, col("_b._ts")).otherwise(col("_f._ts")), TsFmt))
          .as("nearest_signup_ts"),
        when(hasTs, when(useB, col("_b._id")).otherwise(col("_f._id")))
          .as("signup_id"),
        when(!hasTs || (col("_b").isNull && col("_f").isNull),
          lit(null).cast("string"))
          .when(useB, lit("backward")).otherwise(lit("forward"))
          .as("direction"))
        .orderBy(asc("event_id"))
    }),

    // Time-series RESAMPLE + GAP FILL: per-user hourly grid from first to
    // last purchase, carrying the last observed hourly max forward through
    // empty hours. Scale shape: events collapse to (user, hour) partials
    // FIRST (one partial-agg shuffle over the data); the spine explode and
    // forward-fill window then run over the tiny (users × hours) grid —
    // bounded by calendar span, not event count — so the per-user window
    // is never a data-volume skew.
    "ts01_gap_fill" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), date_trunc("hour", col("ts")).as("h"),
          col("value"))
      val hourly = ev.groupBy("user_id", "h").agg(max("value").as("hmax"))
      val spine = ev.groupBy("user_id")
        .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        .select(col("user_id"),
          explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
      val w = Window.partitionBy("user_id").orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(hourly, Seq("user_id", "h"), "left")
        .withColumn("filled", last(col("hmax"), ignoreNulls = true).over(w))
        // sort on the NATIVE hour timestamp, format after: the grid is the
        // suite's biggest output (~users × hours rows), and ordering by the
        // 19-char formatted string made the range-partition sample + sort
        // compare strings where an 8-byte timestamp gives the identical
        // order (date_format of hourly buckets is monotone; same rows,
        // same order — r20, guide §2.3 "narrower types")
        .orderBy("user_id", "h")
        .select(col("user_id"), date_format(col("h"), TsFmt).as("hour"),
          col("hmax").isNotNull.cast("int").as("observed"), col("filled"))
    }),

    // Range join: purchases of the same user within ±1 h of each error.
    // Candidates come from an equi-join on (user, hour-bucket) — the right
    // side lands in ONE bucket, the left probes its ≤3 covering buckets, so
    // cost tracks bucket occupancy, never |errors|×|purchases-per-user|.
    // Bucketing is recall-complete: floor-of-seconds is monotone in ts.
    "rj01_range_join" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("pts"), col("value"))
        .withColumn("bucket", floor(unix_timestamp(col("pts")) / 3600L))
      val probed = errors
        .withColumn("bucket", explode(sequence(
          floor(unix_timestamp(col("ts") - expr("INTERVAL 1 HOUR")) / 3600L),
          floor(unix_timestamp(col("ts") + expr("INTERVAL 1 HOUR")) / 3600L))))
      val agg = probed.join(purchases, Seq("user_id", "bucket"))
        .filter(col("pts").between(
          col("ts") - expr("INTERVAL 1 HOUR"),
          col("ts") + expr("INTERVAL 1 HOUR")))
        .groupBy("event_id")
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("value").cast("decimal(12,2)")).as("pv"))
      errors.join(agg, Seq("event_id"), "left")
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), TsFmt).as("ts"),
          coalesce(col("n_purchases"), lit(0L)).as("n_purchases"),
          coalesce(col("pv"), lit(0).cast("decimal(12,2)"))
            .cast("double").as("purchase_value"))
        .orderBy(asc("event_id"))
    }),

    // Integer EWMA (α = 1/2) per user — a SEQUENTIAL recurrence
    // s ← (s + x) >> 1 over the user's (ts, event_id)-ordered history,
    // which no window frame can express. Scale shape: ONE shuffle groups
    // each user's history into an array (state per key == that key's
    // history, the same bound flatMapGroupsWithState carries), then the
    // fold runs row-locally inside codegen. The halving step truncates
    // TOWARD ZERO (subtract the sign-carrying `% 2` remainder before the
    // shift) because that is what the oracle's `//` does — a bare
    // arithmetic shift FLOORS, which agrees only while sums stay
    // non-negative, a data property (refund-style negative cents would
    // silently diverge) this integer-exact contract must not lean on.
    "ts05_ewma" -> ((s, dir) => {
      // null event times are dropped on BOTH engines: they carry no
      // position in the recurrence's order, and unfiltered they sort
      // FIRST in Spark's sort_array but LAST under DuckDB's ORDER BY —
      // a silent fold-order divergence on any corpus that has them
      Tables(s, dir, "events")
        .filter(col("ts").isNotNull)
        .select(col("user_id"), struct(col("ts"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents")).as("e"))
        .groupBy("user_id")
        .agg(sort_array(collect_list(col("e"))).as("es"))
        .select(col("user_id"),
          transform(col("es"), e => e.getField("cents")).as("cs"))
        .select(col("user_id"),
          size(col("cs")).as("n_events"),
          element_at(col("cs"), -1).as("last_cents"),
          aggregate(expr("slice(cs, 2, size(cs) - 1)"),
            element_at(col("cs"), 1),
            (a, x) => shiftright(a + x - ((a + x) % 2), 1)).as("ewma_cents"))
        .orderBy("user_id")
    }),

    // Rolling exact median over the trailing 11 events per user — the
    // robust smoother a metrics pipeline runs where a mean would chase
    // outliers. No Spark aggregate computes an exact windowed median, so
    // the frame is collected per row (≤ 11 BIGINTs — bounded by the frame,
    // not the stream) and the midpoint computed row-locally; integer cents
    // make the even-count interpolation the IEEE-exact midpoint of two
    // BIGINTs in both engines. One shuffle on user_id; partition count
    // scales with key cardinality, not stratum count.
    "ts06_rolling_median" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(asc("ts"), asc("event_id")).rowsBetween(-10, 0)
      Tables(s, dir, "events")
        // null-ts guard like ts05/ts08/ts09: nulls sort FIRST in Spark's
        // frame order but LAST in DuckDB's, shifting every early frame's
        // membership (r10 review)
        .filter(col("ts").isNotNull)
        .select(col("user_id"), col("event_id"), col("ts"),
          round(col("value") * 100).cast("long").as("cents"))
        .withColumn("xs", sort_array(collect_list(col("cents")).over(w)))
        .select(col("user_id"), col("event_id"),
          date_format(col("ts"), TsFmt).as("ts"),
          // n_win states COUNT(*) (all frame rows), not size(xs):
          // collect_list skips nulls, so on a corpus with null values the
          // two diverge — the frame-row count is what the oracle says
          col("cents"), count(lit(1)).over(w).cast("int").as("n_win"),
          // the empty-frame guard is load-bearing on that same corpus: an
          // all-null frame gives xs = [] with size 0 (even), and the even
          // branch's element_at(xs, 0) THROWS (index 0 is rejected in
          // every ANSI mode) instead of matching the oracle median's NULL
          when(size(col("xs")) === 0, lit(null).cast("double"))
            .when(size(col("xs")) % 2 === 1,
              expr("cast(element_at(xs, cast((size(xs) + 1) div 2 as int)) as double)"))
            .otherwise(expr("(element_at(xs, cast(size(xs) div 2 as int)) " +
              "+ element_at(xs, cast(size(xs) div 2 as int) + 1)) / 2.0"))
            .as("roll_median"))
        .orderBy("user_id", "event_id")
    }),

    // Touch attribution — every purchase credits the user's `view` events
    // in the preceding 24 h: linear weights (10⁶ div n, exact integers)
    // plus a deterministic last-touch flag (max (ts, event_id)). The
    // interval join is the rj01 day-bucket shape: each purchase explodes
    // into its 2 covering calendar days and EQUI-joins views on
    // (user_id, day) — no nested loop; the per-purchase touch count and
    // last-touch argmax ride ONE partial aggregation joined back (never a
    // per-purchase window — the de-skew shape), and purchases with no
    // touches arrive via an anti join with weight 0.
    "ts07_attribution" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
      val epochDay = (c: String) =>
        s"cast(datediff(to_date($c), date'1970-01-01') as bigint)"
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("pts"))
      val v = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("touch_id"),
          col("user_id").as("v_user"), col("ts").as("vts"),
          expr(epochDay("ts")).as("vday"))
      val px = p.select(col("purchase_id"), col("user_id"), col("pts"),
        explode(expr(s"array(${epochDay("pts")} - 1, ${epochDay("pts")})"))
          .as("pday"))
      val touches = px
        .join(v, px("user_id") === v("v_user") && px("pday") === v("vday"))
        .filter(col("vts") >= col("pts") - expr("INTERVAL 24 HOURS")
          && col("vts") < col("pts"))
        .select(col("purchase_id"), col("user_id"), col("touch_id"),
          col("vts"))
      val per = touches.groupBy("purchase_id")
        .agg(count(lit(1)).as("n_touches"),
          max(struct(col("vts"), col("touch_id"))).as("lt"))
        .select(col("purchase_id"), col("n_touches"),
          col("lt.touch_id").as("last_id"))
      val credited = touches.join(per, "purchase_id")
        .select(col("purchase_id"), col("user_id"), col("touch_id"),
          expr("1000000L div n_touches").as("weight_fp"),
          (col("touch_id") === col("last_id")).cast("int").as("is_last"))
      val unmatched = p
        .join(per.select("purchase_id"), Seq("purchase_id"), "left_anti")
        .select(col("purchase_id"), col("user_id"),
          lit(null).cast("bigint").as("touch_id"),
          lit(0L).as("weight_fp"), lit(0).as("is_last"))
      credited.unionByName(unmatched)
        .orderBy("purchase_id", "touch_id")
    }),

    // Interval union — total DISTINCT active time per user when every
    // event opens a 5-minute activity interval and overlaps must not
    // double-count (dwell-time/coverage accounting; also the SLA-uptime
    // merge). The island pass is dd09's span-merge shape on the time
    // axis: a running-max window PARTITIONED BY USER (key cardinality
    // scales with data — bounded per-user history, no fixed-stratum
    // skew), then one aggregation per island and one per user. Integer
    // epoch seconds end-to-end.
    "ts08_interval_union" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(asc("st"), asc("event_id"))
      val prevMax = max(col("en"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1))
      // a null event time opens no interval; unfiltered it would mint a
      // phantom island in Spark (null st sorts first, prevMax null → ni=1)
      // while DuckDB sorts it last — both engines drop it instead
      Tables(s, dir, "events")
        .filter(col("ts").isNotNull)
        .select(col("user_id"), col("event_id"),
          expr("cast(unix_timestamp(ts) as bigint)").as("st"))
        .withColumn("en", col("st") + 300L)
        .withColumn("ni",
          (prevMax.isNull || col("st") > prevMax).cast("int"))
        .withColumn("isl", sum(col("ni")).over(w))
        .groupBy("user_id", "isl")
        .agg(min("st").as("ist"), max("en").as("ien"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_islands"),
          sum(col("ien") - col("ist")).as("covered_seconds"))
        .orderBy("user_id")
    }),

    // Lag-1 autocorrelation of each user's daily activity series — the
    // time-series diagnostic (burstiness / regularity signal) in EXACT
    // integer arithmetic: with S = Σx over the n ordered daily counts,
    // (x_i − μ)(x_j − μ)·n² = (n·x_i − S)(n·x_j − S), so
    // r1 = Σ(n·x_i − S)(n·x_{i+1} − S) / Σ(n·x_i − S)² needs no float
    // mean — numerator and denominator are BIGINT sums, r1 in MILLI
    // (both engines truncate signed integer division toward zero, so a
    // negative r1 is bit-equal too). Shape: daily counts are one
    // aggregation; S joins back as a
    // per-user AGGREGATE (skew-splittable); the lead() window partitions
    // by user_id (cardinality scales); the final reduce is one more
    // user-keyed aggregation. Keys with a constant series (den = 0)
    // report NULL — undefined, not zero.
    "ts09_autocorr" -> ((s, dir) => {
      // a null event time has no day in the lag-1 series; unfiltered its
      // null-day row sorts first in Spark's lead() order and last in
      // DuckDB's, pairing different neighbors — both engines drop it
      val daily = Tables(s, dir, "events")
        .filter(col("ts").isNotNull)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val stats = daily.groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
      val w = Window.partitionBy("user_id").orderBy("day")
      daily.join(stats, "user_id")
        .withColumn("d", col("n") * col("x") - col("s"))
        .withColumn("dn", lead(col("d"), 1).over(w))
        .groupBy("user_id")
        .agg(max(col("n")).as("n_days"),
          sum(col("d") * col("dn")).as("num"),
          sum(col("d") * col("d")).as("den"))
        .select(col("user_id"), col("n_days"),
          when(col("den") === 0L, lit(null).cast("long"))
            .otherwise(expr("(num * 1000) div den")).as("r1_milli"))
        .orderBy("user_id")
    }),
  )

  /** aj01/aj02/aj03's shared purchase/signup CTEs. `ts IS NOT NULL` on
    * BOTH sides mirrors [[purchasesAndSignups]]: DuckDB ASOF sorts a NULL
    * ts as +infinity (a null-ts purchase would match the user's LATEST
    * signup and a null-ts signup would be matchable) while the Spark
    * kernels give null-ts left rows no match and drop null-ts right rows
    * — a live gate failure under null-ts injection (r13 review wave).
    */
  private val asofCteSql: String =
    """p AS (SELECT event_id, user_id, ts FROM events
      |           WHERE event_type = 'purchase' AND ts IS NOT NULL),
      | s AS (SELECT user_id, ts, MAX(event_id) AS signup_id FROM events
      |       WHERE event_type = 'signup' AND ts IS NOT NULL
      |       GROUP BY user_id, ts)""".stripMargin

  /** One literal for aj01 AND aj02 — the custom-exec twin gates the
    * identical semantics by construction.
    */
  private val asofOracleSql: String =
    s"""WITH $asofCteSql
      |SELECT p.event_id, p.user_id,
      |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts,
      |  strftime(s.ts, '%Y-%m-%d %H:%M:%S') AS signup_ts,
      |  s.signup_id
      |FROM p ASOF LEFT JOIN s
      |  ON p.user_id = s.user_id AND p.ts >= s.ts
      |ORDER BY p.event_id""".stripMargin

  val oracle: Map[String, String] = ListMap(
    "aj01_asof_join" -> asofOracleSql,

    // aj02 proves the CUSTOM EXEC against the IDENTICAL oracle — one
    // shared literal, like ohlcOracleSql, so a semantics fix (the null-ts
    // filter below) can never land in one twin and miss the other
    "aj02_asof_exec" -> asofOracleSql,

    "aj03_asof_tolerance" ->
      s"""WITH $asofCteSql
        |SELECT p.event_id, p.user_id,
        |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts,
        |  CASE WHEN s.ts >= p.ts - INTERVAL 1 HOUR
        |       THEN strftime(s.ts, '%Y-%m-%d %H:%M:%S') END AS signup_ts,
        |  CASE WHEN s.ts >= p.ts - INTERVAL 1 HOUR
        |       THEN s.signup_id END AS signup_id
        |FROM p ASOF LEFT JOIN s
        |  ON p.user_id = s.user_id AND p.ts >= s.ts
        |ORDER BY p.event_id""".stripMargin,

    // Mirrors the two-window construction (DuckDB ASOF is backward-only,
    // so 'nearest' is expressed the same way the Spark plan computes it).
    "aj04_asof_nearest" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'purchase'),
        | s AS (SELECT user_id, ts, MAX(event_id) AS signup_id FROM events
        |       WHERE event_type = 'signup' AND ts IS NOT NULL
        |        AND user_id IS NOT NULL GROUP BY user_id, ts),
        | u AS (
        |  SELECT user_id, ts, 1 AS side, event_id,
        |         NULL::BIGINT AS signup_id FROM p
        |  UNION ALL
        |  SELECT user_id, ts, 0, NULL, signup_id FROM s),
        | wn AS (SELECT *,
        |   last_value(CASE WHEN side = 0
        |       THEN {'t': ts, 'i': signup_id} END IGNORE NULLS)
        |     OVER (PARTITION BY user_id ORDER BY ts, side
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS b,
        |   first_value(CASE WHEN side = 0
        |       THEN {'t': ts, 'i': signup_id} END IGNORE NULLS)
        |     OVER (PARTITION BY user_id ORDER BY ts, side
        |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS f
        |  FROM u),
        | x AS (SELECT *,
        |   (f IS NULL OR (b IS NOT NULL
        |     AND epoch_us(ts) - epoch_us(b.t)
        |       <= epoch_us(f.t) - epoch_us(ts)))
        |     AS useb
        |  FROM wn WHERE side = 1)
        |SELECT event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
        | CASE WHEN ts IS NULL THEN NULL
        |   ELSE strftime(CASE WHEN useb THEN b.t ELSE f.t END,
        |     '%Y-%m-%d %H:%M:%S') END AS nearest_signup_ts,
        | CASE WHEN ts IS NULL THEN NULL
        |   WHEN useb THEN b.i ELSE f.i END AS signup_id,
        | CASE WHEN ts IS NULL OR (b IS NULL AND f IS NULL) THEN NULL
        |   WHEN useb THEN 'backward' ELSE 'forward' END AS direction
        |FROM x ORDER BY event_id""".stripMargin,

    "ts01_gap_fill" ->
      """WITH ev AS (SELECT user_id, date_trunc('hour', ts) AS h, value
        |   FROM events WHERE event_type = 'purchase'),
        | hourly AS (SELECT user_id, h, MAX(value) AS hmax FROM ev
        |   GROUP BY user_id, h),
        | bounds AS (SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM ev
        |   GROUP BY user_id),
        | spine AS (SELECT b.user_id, t.h FROM bounds b
        |   CROSS JOIN UNNEST(generate_series(b.h0, b.h1, INTERVAL 1 HOUR))
        |     AS t(h))
        |SELECT s.user_id, strftime(s.h, '%Y-%m-%d %H:%M:%S') AS hour,
        | CAST(hy.hmax IS NOT NULL AS INT) AS observed,
        | LAST_VALUE(hy.hmax IGNORE NULLS) OVER (
        |   PARTITION BY s.user_id ORDER BY s.h
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        |FROM spine s LEFT JOIN hourly hy
        |  ON hy.user_id = s.user_id AND hy.h = s.h
        |ORDER BY s.user_id NULLS FIRST, hour""".stripMargin,

    "rj01_range_join" ->
      """WITH e AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'error'),
        | p AS (SELECT user_id, ts AS pts, value FROM events
        |       WHERE event_type = 'purchase')
        |SELECT e.event_id, e.user_id,
        |  strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts,
        |  COUNT(p.pts) AS n_purchases,
        |  CAST(COALESCE(SUM(CAST(p.value AS DECIMAL(12,2))), 0) AS DOUBLE)
        |    AS purchase_value
        |FROM e LEFT JOIN p ON e.user_id = p.user_id
        |  AND p.pts BETWEEN e.ts - INTERVAL 1 HOUR AND e.ts + INTERVAL 1 HOUR
        |GROUP BY e.event_id, e.user_id, e.ts
        |ORDER BY e.event_id""".stripMargin,

    // DuckDB list_reduce seeds with the first element and folds left —
    // exactly the Spark-side aggregate(slice(2..), first, ...) shape.
    // `//` on positive BIGINTs == shiftright by 1.
    "ts05_ewma" ->
      """WITH e AS (SELECT user_id,
        |   list(CAST(round(value * 100) AS BIGINT) ORDER BY ts, event_id)
        |     AS cs
        | FROM events WHERE ts IS NOT NULL GROUP BY user_id)
        |SELECT user_id, len(cs) AS n_events,
        | cs[len(cs)] AS last_cents,
        | list_reduce(cs, (a, b) -> (a + b) // 2) AS ewma_cents
        |FROM e ORDER BY user_id NULLS FIRST""".stripMargin,

    // DuckDB's windowed median on BIGINT interpolates even counts as the
    // same IEEE midpoint the Spark side computes explicitly.
    "ts06_rolling_median" ->
      """SELECT user_id, event_id,
        | strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
        | CAST(round(value * 100) AS BIGINT) AS cents,
        | CAST(COUNT(*) OVER w AS INT) AS n_win,
        | CAST(median(CAST(round(value * 100) AS BIGINT)) OVER w AS DOUBLE)
        |   AS roll_median
        |FROM events WHERE ts IS NOT NULL
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN 10 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id NULLS FIRST, event_id NULLS FIRST""".stripMargin,

    // The 24 h interval join stated directly; last-touch restated as a
    // deterministic ROW_NUMBER pick, linear weight as BIGINT floor
    // division. NULLS FIRST matches Spark's ascending default.
    "ts07_attribution" ->
      """WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS pts
        |  FROM events WHERE event_type = 'purchase'),
        | v AS (SELECT event_id AS touch_id, user_id, ts AS vts
        |  FROM events WHERE event_type = 'view'),
        | t AS (SELECT p.purchase_id, p.user_id, v.touch_id, v.vts
        |  FROM p JOIN v ON v.user_id = p.user_id
        |   AND v.vts >= p.pts - INTERVAL 24 HOUR AND v.vts < p.pts),
        | per AS (SELECT purchase_id, COUNT(*) AS n FROM t
        |  GROUP BY purchase_id),
        | lastt AS (SELECT purchase_id, touch_id AS last_id FROM t
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY purchase_id
        |    ORDER BY vts DESC, touch_id DESC) = 1),
        | credited AS (SELECT t.purchase_id, t.user_id, t.touch_id,
        |   CAST(1000000 AS BIGINT) // per.n AS weight_fp,
        |   CAST(t.touch_id = lastt.last_id AS INT) AS is_last
        |  FROM t JOIN per USING (purchase_id)
        |   JOIN lastt USING (purchase_id)),
        | unmatched AS (SELECT p.purchase_id, p.user_id,
        |   CAST(NULL AS BIGINT) AS touch_id,
        |   CAST(0 AS BIGINT) AS weight_fp, 0 AS is_last
        |  FROM p WHERE NOT EXISTS (SELECT 1 FROM t
        |    WHERE t.purchase_id = p.purchase_id))
        |SELECT * FROM credited
        |UNION ALL SELECT * FROM unmatched
        |ORDER BY purchase_id, touch_id NULLS FIRST""".stripMargin,

    // The same island construction; SUMs cast back from HUGEINT. Seconds
    // via epoch(date_trunc('second', ts)) — date_trunc is time-semantics
    // FLOOR (the containing second, pre-epoch included) and epoch of a
    // second-aligned timestamp is integer-exact at any magnitude, matching
    // Spark's unix_timestamp. NOT floor(epoch_ms/1000): epoch_ms itself
    // TRUNCATES sub-millisecond fractions toward zero before the floor
    // applies, so a pre-epoch 23:59:59.999500 gave st = 0 where Spark
    // floors to −1 (r11 review; all three forms probed live). NOT `//`
    // either: DuckDB's `//` truncates toward zero (its own ts09 comment);
    // and CAST(epoch(...)) would ROUND.
    "ts08_interval_union" ->
      """WITH e AS (SELECT user_id, event_id,
        |   CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS st,
        |   CAST(epoch(date_trunc('second', ts)) AS BIGINT) + 300 AS en
        |  FROM events
        |  WHERE ts IS NOT NULL),
        | g AS (SELECT *, MAX(en) OVER (PARTITION BY user_id
        |    ORDER BY st, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |   FROM e),
        | f AS (SELECT *, CASE WHEN pm IS NULL OR st > pm THEN 1 ELSE 0 END
        |    AS ni FROM g),
        | il AS (SELECT *, SUM(ni) OVER (PARTITION BY user_id
        |    ORDER BY st, event_id ROWS UNBOUNDED PRECEDING) AS isl FROM f),
        | m AS (SELECT user_id, isl, MIN(st) AS ist, MAX(en) AS ien
        |   FROM il GROUP BY 1, 2)
        |SELECT user_id, COUNT(*) AS n_islands,
        | CAST(SUM(ien - ist) AS BIGINT) AS covered_seconds
        |FROM m GROUP BY user_id ORDER BY user_id NULLS FIRST""".stripMargin,

    // Same cleared-denominator autocorrelation. Signed division is safe:
    // BOTH engines truncate integer division toward zero (checked:
    // -7 div 2 = -3 in Spark, -7 // 2 = -3 in DuckDB), so a negative
    // r1 numerator divides identically.
    "ts09_autocorr" ->
      """WITH daily AS (SELECT user_id, date_trunc('day', ts) AS day,
        |   CAST(COUNT(*) AS BIGINT) AS x FROM events
        |  WHERE ts IS NOT NULL GROUP BY 1, 2),
        | st AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
        |   CAST(SUM(x) AS BIGINT) AS s FROM daily GROUP BY user_id),
        | d AS (SELECT daily.user_id, st.n, st.n * daily.x - st.s AS d,
        |   LEAD(st.n * daily.x - st.s) OVER (PARTITION BY daily.user_id
        |     ORDER BY daily.day) AS dn
        |  FROM daily JOIN st ON daily.user_id = st.user_id),
        | r AS (SELECT user_id, MAX(n) AS n_days,
        |   CAST(SUM(d * dn) AS BIGINT) AS num,
        |   CAST(SUM(d * d) AS BIGINT) AS den
        |  FROM d GROUP BY user_id)
        |SELECT user_id, n_days,
        | CASE WHEN den = 0 THEN NULL ELSE (num * 1000) // den END
        |  AS r1_milli
        |FROM r ORDER BY user_id NULLS FIRST""".stripMargin,
  )
}
