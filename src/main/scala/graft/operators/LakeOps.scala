package graft.operators

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QuerySuite, Tables}

/** Lake-maintenance operators — the mutation side of a 100 TB table: MERGE
  * (upsert/delete apply), CDC compaction (latest row per key), and
  * incremental cross-snapshot dedup (a new batch against corpus history).
  *
  * Scale notes (100 TB):
  *  - md01 MERGE: ONE shuffle join of snapshot × changeset on the key.
  *    Deletes/updates ride the join; inserts pass through as unmatched
  *    change rows — nothing is driver-side, AQE handles key skew. On a
  *    real lake the snapshot side is bucketed by key so only the (much
  *    smaller) changeset shuffles.
  *  - ts02 latest-by-key: aggregation-based (`max(struct(ts, id, ...))`)
  *    with map-side partial aggregation — each map task ships ONE row per
  *    key it saw, not a per-key window (which would co-locate each key's
  *    full history on one reducer before discarding all but one row).
  *  - dd10 incremental dedup: history is pre-aggregated to its distinct
  *    fingerprint set (fixed 16-byte keys — ids-only through the shuffle,
  *    never text), and Spark's runtime bloom-filter injection (proven in
  *    RuntimeFilterSpec) prunes batch-side rows before the exchange. This
  *    is the "dedup tomorrow's crawl against yesterday's corpus" pattern:
  *    cost scales with the NEW batch, not with history re-processing.
  */
object LakeOps extends QuerySuite {
  val queries: Map[String, Q] = ListMap[String, Q](
    // MERGE INTO semantics over the orders snapshot: a derived changeset
    // (keys %10==0 update status+price, %10==3 delete, %10==7 insert under
    // a fresh key) applied in one full-outer join — the engine-level shape
    // of Delta/Iceberg MERGE. Matched+op=U → change values win; matched+
    // op=D → row dropped; unmatched change (op=I) → insert; unmatched base
    // → unchanged. Insert keys are NEGATED order keys: o_orderkey is
    // strictly positive at every TPC-H scale factor, so the insert range is
    // disjoint by construction (an additive offset would collide once
    // o_orderkey outgrows it — at SF≈17 for +1e8).
    "md01_merge_upsert" -> ((s, dir) =>
      mergedOrders(s, dir).orderBy("o_orderkey")),

    // Snapshot DIFF — the row-level change feed between two table states
    // (time-travel compare): the orders base vs md01's merged output.
    // One full-outer join on the key classifies every row: added (insert
    // keys), removed (deleted keys), changed (value drift), with same
    // rows dropped. At 100 TB both sides are key-bucketed snapshots, so
    // the join co-locates without a shuffle; the classification is
    // row-local.
    "md02_snapshot_diff" -> ((s, dir) => {
      // key-identified rows only, like mergedOrders: a base row whose key
      // VALUE is null would satisfy `k.isNull` and masquerade as 'added'
      // on both engines — a misclassification, filtered on both sides
      // (r11 review)
      val a = Tables(s, dir, "orders")
        .filter(col("o_orderkey").isNotNull)
        .select(col("o_orderkey").as("k"),
          col("o_orderstatus").as("a_status"),
          col("o_totalprice").as("a_total"))
      val b = mergedOrders(s, dir).select(col("o_orderkey"),
        col("o_orderstatus").as("b_status"), col("o_totalprice").as("b_total"))
      a.join(b, col("k") === col("o_orderkey"), "full_outer")
        .withColumn("change_type",
          when(col("k").isNull, "added")
            .when(col("o_orderkey").isNull, "removed")
            .when(col("a_status") =!= col("b_status")
              || col("a_total") =!= col("b_total"), "changed"))
        .filter(col("change_type").isNotNull)
        .select(coalesce(col("k"), col("o_orderkey")).as("o_orderkey"),
          col("change_type"), col("a_status").as("old_status"),
          col("b_status").as("new_status"), col("a_total").as("old_total"),
          col("b_total").as("new_total"))
        .orderBy("o_orderkey")
    }),
  ) ++ more

  /** The OHLC downsample shared by batch ts04 and its complete-mode
    * streaming twin st08 — ONE definition so the twin relationship is
    * structural: first/last ride the same partial aggregation as min/max
    * via lexicographic struct extremes on (ts, event_id, value), never a
    * per-key window. Split in two because the streaming side must run the
    * aggregation INSIDE the stream and the projection on the sink table.
    */
  private[graft] def ohlcAgg(df: DataFrame): DataFrame =
    df.filter(col("ts").isNotNull) // null event times would form a null
      // hour bucket that sorts FIRST in Spark's dump but LAST under
      // DuckDB's ORDER BY — the cross-engine null-ordering divergence
      // TemporalJoins documents; drop them like ts05/ts08/ts09 do
      .groupBy(date_trunc("hour", col("ts")).as("hb"), col("event_type"))
      .agg(
        min(struct(col("ts"), col("event_id"), col("value"))).as("o"),
        max(struct(col("ts"), col("event_id"), col("value"))).as("c"),
        max(col("value")).as("high"), min(col("value")).as("low"),
        count(lit(1)).as("n"))

  private[graft] def ohlcProject(df: DataFrame): DataFrame =
    df.select(
      date_format(col("hb"), "yyyy-MM-dd HH:mm:ss").as("hour_bucket"),
      col("event_type"), col("o.value").as("open"), col("high"),
      col("low"), col("c.value").as("close"), col("n"))
      .orderBy("hour_bucket", "event_type")

  /** ts04's oracle, shared verbatim by st08 (complete mode == the batch
    * answer): first/last restated as ROW_NUMBER picks.
    */
  private[graft] val ohlcOracleSql: String =
    """WITH b AS (SELECT date_trunc('hour', ts) AS hb, event_type, ts,
      |   event_id, value FROM events WHERE ts IS NOT NULL),
      | r AS (SELECT *,
      |   ROW_NUMBER() OVER (PARTITION BY hb, event_type
      |     ORDER BY ts, event_id) AS rf,
      |   ROW_NUMBER() OVER (PARTITION BY hb, event_type
      |     ORDER BY ts DESC, event_id DESC) AS rl FROM b)
      |SELECT strftime(hb, '%Y-%m-%d %H:%M:%S') AS hour_bucket, event_type,
      | MAX(CASE WHEN rf = 1 THEN value END) AS open,
      | MAX(value) AS high, MIN(value) AS low,
      | MAX(CASE WHEN rl = 1 THEN value END) AS close,
      | COUNT(*) AS n
      |FROM r GROUP BY hb, event_type
      |ORDER BY hour_bucket, event_type NULLS FIRST""".stripMargin

  /** md01's MERGE result without the presentation sort — shared by the
    * merge query itself and the snapshot-diff operator. MATERIALIZED to the
    * scratch lake (content-fingerprint keyed, [[Scratch.materialized]])
    * so chained lake queries (md01 upsert → md02 diff) read ONE computed
    * MERGE instead of each recomputing the full-outer join — the same
    * pattern the dedup signature tables use; a rewritten orders snapshot
    * invalidates the entry via the fingerprint.
    */
  private def mergedOrders(s: SparkSession, dir: String): DataFrame =
    Scratch.materialized(mergedOrdersPlan(s, dir), "md01_merge", dir)

  private def mergedOrdersPlan(s: SparkSession, dir: String): DataFrame = {
      // a NULL merge key has no identity to merge ON — drop it on BOTH
      // sides (the oracle's `% 10 <> 3` predicates null-drop implicitly;
      // the engine's full-outer join kept the row and emitted a NULL key
      // the oracle never has — fixture-dormant fork, r11 review). md02's
      // diff inherits this filter through mergedOrders.
      val base = Tables(s, dir, "orders")
        .filter(col("o_orderkey").isNotNull)
      val upd = base.filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey").as("k"), lit("U").as("op"),
          col("o_custkey").as("c_custkey"), lit("X").as("c_status"),
          (col("o_totalprice") + 1.0).as("c_total"),
          col("o_orderdate").as("c_date"))
      val del = base.filter(col("o_orderkey") % 10 === 3)
        .select(col("o_orderkey").as("k"), lit("D").as("op"),
          lit(null).cast("bigint").as("c_custkey"),
          lit(null).cast("string").as("c_status"),
          lit(null).cast("double").as("c_total"),
          lit(null).cast("timestamp").as("c_date"))
      val ins = base.filter(col("o_orderkey") % 10 === 7)
        .select((-col("o_orderkey")).as("k"), lit("I").as("op"),
          col("o_custkey").as("c_custkey"), lit("N").as("c_status"),
          col("o_totalprice").as("c_total"), col("o_orderdate").as("c_date"))
      val changes = upd.unionAll(del).unionAll(ins)
      base.join(changes, col("o_orderkey") === col("k"), "full_outer")
        .filter(col("op").isNull || col("op") =!= "D")
        .select(
          coalesce(col("o_orderkey"), col("k")).as("o_orderkey"),
          when(col("op").isNotNull, col("c_custkey"))
            .otherwise(col("o_custkey")).as("o_custkey"),
          when(col("op").isNotNull, col("c_status"))
            .otherwise(col("o_orderstatus")).as("o_orderstatus"),
          when(col("op").isNotNull, col("c_total"))
            .otherwise(col("o_totalprice")).as("o_totalprice"),
          date_format(when(col("op").isNotNull, col("c_date"))
            .otherwise(col("o_orderdate")), "yyyy-MM-dd").as("order_date"))
  }

  private def more: Map[String, Q] = ListMap(
    // CDC compaction: the LATEST event per (user_id, event_type) — SCD
    // type-1 read of a change stream. Deterministic via lexicographic
    // struct max on (ts, event_id): event_id breaks ts ties.
    "ts02_latest_by_key" -> ((s, dir) => {
      Tables(s, dir, "events")
        .groupBy("user_id", "event_type")
        .agg(max(struct(col("ts"), col("event_id"), col("value"))).as("m"))
        .select(col("user_id"), col("event_type"),
          date_format(col("m.ts"), "yyyy-MM-dd HH:mm:ss").as("last_ts"),
          col("m.event_id").as("last_event_id"),
          col("m.value").as("last_value"))
        .orderBy("user_id", "event_type")
    }),

    // SCD Type-2 history build: each (user_id, event_type) change stream
    // becomes validity intervals — valid_from = the event's time,
    // valid_to = the NEXT change's time (null while current). The window
    // partitions are per-key histories, whose count grows with the data
    // (no fixed-stratum skew — unlike a per-language window, key
    // cardinality scales with the corpus, so no reducer sees more than
    // one key's bounded history).
    "ts03_scd2_intervals" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(asc("ts"), asc("event_id"))
      Tables(s, dir, "events")
        // null event times sort FIRST under Spark's asc(ts) but LAST
        // under DuckDB's ORDER BY inside LEAD — a silent valid_to fork on
        // any corpus that has them (the TemporalJoins contract); a null
        // ts also isn't a change point, so it has no interval to anchor
        .filter(col("ts").isNotNull)
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("ts"), col("value"))
        .withColumn("next_ts", lead(col("ts"), 1).over(w))
        .select(col("user_id"), col("event_type"), col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
          date_format(col("next_ts"), "yyyy-MM-dd HH:mm:ss").as("valid_to"),
          col("next_ts").isNull.cast("int").as("is_current"),
          col("value"))
        .orderBy("user_id", "event_type", "event_id")
    }),

    // OHLC downsampling bars — the canonical time-series resample (metrics
    // rollup / market bars): per (hour, event_type), the first and last
    // value plus extrema and count. First/last ride the SAME partial
    // aggregation as min/max via lexicographic struct min on (ts,
    // event_id, value) — event_id breaks ts ties deterministically, and
    // each map task ships one candidate per group, never a per-key window
    // (which would co-locate each group's full history before discarding
    // all but two rows).
    "ts04_ohlc_bars" -> ((s, dir) =>
      ohlcProject(ohlcAgg(Tables(s, dir, "events")))),

    // Incremental dedup with provenance: the "new batch" (doc_id%5==4)
    // against corpus history (the rest), on the canonical whitespace/case
    // fingerprint. Each batch doc is either new (no history fp match) or a
    // duplicate pointing at its canonical history doc.
    "dd10_incremental_dedup" -> ((s, dir) => {
      val fp = TextOps.canonFp // ONE canonical-fingerprint definition
      val d = Tables(s, dir, "documents").select(col("doc_id"), fp.as("fp"))
      val hist = d.filter(col("doc_id") % 5 =!= 4)
        .groupBy("fp").agg(min("doc_id").as("canonical_id"))
      d.filter(col("doc_id") % 5 === 4)
        .join(hist, Seq("fp"), "left")
        .select(col("doc_id"), col("fp"), col("canonical_id"),
          col("canonical_id").isNull.cast("int").as("is_new"))
        .orderBy("doc_id")
    }),

    // GDPR/right-to-be-forgotten purge cascade: a delete-key list
    // (customers with c_custkey % 97 == 0 — the "erasure request" set)
    // propagated through the foreign-key chain customer → orders →
    // lineitem, with a per-nation audit of what each level would purge.
    // Scale shape: the delete set is a small fraction of one dimension, so
    // AQE broadcasts it into the orders join; the lineitem join keys on
    // o_orderkey where Spark's runtime bloom filter (RuntimeFilterSpec)
    // prunes probe rows before the exchange. Audit counts partial-agg to
    // ~25 nation rows — nothing corpus-sized ever reaches the driver.
    "md03_purge_cascade" -> ((s, dir) => {
      val delCust = Tables(s, dir, "customer")
        .filter(col("c_custkey") % 97 === 0)
        .select(col("c_custkey"), col("c_nationkey"))
      val delOrders = Tables(s, dir, "orders")
        .join(delCust, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_nationkey"))
      val delLines = Tables(s, dir, "lineitem").select(col("l_orderkey"))
        .join(delOrders, col("l_orderkey") === col("o_orderkey"))
        .select(col("c_nationkey"))
      val nc = delCust.groupBy("c_nationkey")
        .agg(count(lit(1)).as("purged_customers"))
      val no = delOrders.groupBy("c_nationkey")
        .agg(count(lit(1)).as("purged_orders"))
      val nl = delLines.groupBy("c_nationkey")
        .agg(count(lit(1)).as("purged_lineitems"))
      nc.join(no, Seq("c_nationkey"), "left")
        .join(nl, Seq("c_nationkey"), "left")
        .select(col("c_nationkey").as("nationkey"),
          col("purged_customers"),
          coalesce(col("purged_orders"), lit(0L)).as("purged_orders"),
          coalesce(col("purged_lineitems"), lit(0L)).as("purged_lineitems"))
        .orderBy("nationkey")
    }),

    // SCD Type-2 MERGE — dimension maintenance with history preservation
    // (ts03 DERIVES intervals from an event log; this APPLIES a change
    // batch to a versioned dimension): each changed key's current row is
    // closed (valid_to = effective date, no longer current) and a new
    // version appended open-ended; unchanged keys pass through. One
    // left join of the dimension against the (broadcastable) change set
    // plus a union — no window, no shuffle beyond the join, exactly how a
    // Delta/Iceberg MERGE expresses SCD2. Change batch: customers with
    // c_custkey % 7 == 0 move to the 'WEB' segment effective 1999-01-01.
    "md05_scd2_apply" -> ((s, dir) => {
      // NULL business keys have no SCD identity: the engine's left-join
      // classified them current (k.isNull → 1) while the oracle's
      // `c_custkey % 7 <> 0` collapses to NULL — dropped on both sides
      // instead (r11 review; fixture-dormant)
      val base = Tables(s, dir, "customer")
        .filter(col("c_custkey").isNotNull)
        .select(col("c_custkey"), col("c_mktsegment"))
      val changes = base.filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey").as("k"), lit("WEB").as("new_segment"))
      val v1 = base.join(changes, col("c_custkey") === col("k"), "left")
        .select(col("c_custkey"), col("c_mktsegment").as("segment"),
          lit("1970-01-01").as("valid_from"),
          when(col("k").isNotNull, lit("1999-01-01"))
            .otherwise(lit(null).cast("string")).as("valid_to"),
          col("k").isNull.cast("int").as("is_current"),
          lit(1).as("version"))
      val v2 = changes.select(col("k").as("c_custkey"),
        col("new_segment").as("segment"),
        lit("1999-01-01").as("valid_from"),
        lit(null).cast("string").as("valid_to"),
        lit(1).as("is_current"), lit(2).as("version"))
      v1.unionByName(v2).orderBy("c_custkey", "version")
    }),

    // Incremental materialized-view refresh — the aggregate-merge algebra
    // that avoids rescanning history: the monthly revenue rollup is
    // computed as history partials (orders before 1998) MERGED with a new
    // batch's partials (1998 onward) by re-aggregating (sum of sums, sum
    // of counts), never by recomputing over history. The oracle IS the
    // full recompute, so the gate proves merged-partials == recompute.
    // At 100 TB the history partials are a stored table a fraction of the
    // fact table's size; each refresh costs one scan of the NEW batch
    // plus a rollup-sized merge.
    "md04_incremental_agg" -> ((s, dir) => {
      // a NULL order date belongs to NO batch: both partial filters are
      // null-false, so the engine silently excluded the row while the
      // full-recompute oracle grouped it under a NULL month — the
      // ts03/ts04 convention (filter + comment on BOTH sides) now applies
      // here too (r11 review; fixture-dormant)
      val o = Tables(s, dir, "orders")
        .filter(col("o_orderdate").isNotNull)
        .select(
        date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        col("o_orderdate"))
      val split = lit("1998-01-01").cast("timestamp")
      def partial(df: DataFrame): DataFrame = df.groupBy("month")
        .agg(count(lit(1)).as("n"), sum("cents").as("tc"))
      partial(o.filter(col("o_orderdate") < split))
        .unionByName(partial(o.filter(col("o_orderdate") >= split)))
        .groupBy("month")
        .agg(sum("n").as("n_orders"), sum("tc").as("total_cents"))
        .select(col("month"), col("n_orders"), col("total_cents"),
          expr("total_cents div n_orders").as("avg_cents"))
        .orderBy("month")
    }),

    // Time travel through the transaction log — TxLog's read path as an
    // oracle-gated query, not just a spec: two versions of an orders table
    // are COMMITTED through the protocol (v1 = the raw snapshot, v2 = the
    // md01 MERGE applied), then each version is read back BY VERSION PIN
    // and audited (row count + exact cents total). The oracle recomputes
    // both audits from the source table directly, so the gate proves the
    // log returns exactly the committed bytes for every version — a reader
    // of v1 is unaffected by v2's commit. Scale shape: the versioned data
    // dirs are ordinary parquet (full pushdown); the log adds one
    // metadata listing per read, never per task.
    "md08_time_travel" -> ((s, dir) => {
      val lake = java.nio.file.Files
        .createTempDirectory("md08_lake").toString
      Scratch.registerDir(lake)
      val base = Tables(s, dir, "orders").select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val v1 = TxLog.write(s, lake, base, 0L, action = "snapshot")
      // the materialized md01 scratch, not mergedOrdersPlan: re-deriving
      // the full-outer MERGE here would pay the orders x changeset join a
      // second time per sweep for the identical rows
      val merged = mergedOrders(s, dir).select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      TxLog.write(s, lake, merged, v1, action = "merge")
      def audit(version: Long): DataFrame =
        TxLog.readVersion(s, lake, version)
          .agg(count(lit(1)).as("n_rows"), sum("cents").as("total_cents"))
          .select(lit(version).cast("long").as("version"),
            col("n_rows"), col("total_cents"))
      audit(1L).unionByName(audit(2L)).orderBy("version")
    }),

    // Z-order clustering key — the 2-D data-skipping sort key a lake
    // compaction writes (Delta OPTIMIZE ZORDER BY / Iceberg sort orders):
    // bit-interleave of (o_custkey & 0xFFFF, epoch-day(o_orderdate) &
    // 0xFFFF) via the standard mask-doubling spread. Pure 64-bit integer
    // ops, ROW-LOCAL — zero data shuffle; the single Exchange is the
    // final range sort on zkey, which at lake scale IS the clustered
    // write. Engine-exact by construction (no floats anywhere), so the
    // oracle runs the identical bit algebra with `<<` in place of
    // `shiftleft`.
    "md06_zorder_key" -> ((s, dir) =>
      zOrderKeyed(s, dir).orderBy("zkey", "o_orderkey")),

    // Z-order pruning audit — md06's payoff, quantified: rows are binned
    // into 16 equal-frequency "files" under TWO layouts (rank ranges of
    // the Morton key — consecutive chunks of md06's write sort, i.e.
    // fixed-size files — vs arrival order by orderkey, the
    // unsorted-ingest baseline), per-file min/max footer stats are
    // computed, and a box predicate (custkey ∈ [10, 80], order day ∈
    // [9200, 9800]) tests which files a stats-pruning reader skips. The
    // z-ordered layout localizes both dimensions so most files fall
    // outside the box; arrival files each span the whole key space and
    // prune nothing — the read-path argument for md06's write sort,
    // stated as data. Shape: ONE corpus scan for the stats pass (both
    // layout assignments ride one explode), row-local key math, and the
    // 15 z-boundary cut points from a DETERMINISTIC FIXED-SIZE ROW
    // SAMPLE — the bottom-4096 rows by an engine-neutral multiplicative
    // hash of the orderkey (TakeOrdered: per-partition heap + driver
    // merge, bounded at any scale). This is what production z-order
    // writers (and Spark's own RangePartitioner) do: range bounds from a
    // sample, never an exact quantile over the key NDV — zkey interleaves
    // (custkey, day) so its NDV grows ~linearly with rows and a
    // single-group exact percentile over it would walk a billion-row
    // group on one reducer at 100×. The sample keeps q51's discipline via
    // an emitted CONTRACT column: depth_ok = every file holds ≤ 2× the
    // equi-depth target (n_rows * 8 <= total), integer-exact in both
    // engines; the oracle draws the identical sample, so the cut points
    // — and the audit — stay hash-equal by construction.
    "md07_zorder_pruning" -> ((s, dir) => {
      val base = zOrderKeyed(s, dir)
      val probs = (1 to 15).map(i => i / 16.0)
      // Knuth multiplicative scramble, pre-reduced mod 1e6+3 so the
      // product stays far below 2^63 under ANSI overflow checking; pure
      // non-negative integer ops give both engines the same sample
      val bounds = base
        .select(col("zkey"), col("o_orderkey"),
          expr("((o_orderkey % 1000003) * 2654435761) % 4294967296")
            .as("h"))
        .orderBy("h", "o_orderkey").limit(4096)
        .agg(expr(s"percentile(zkey, array(${probs.mkString(",")}))")
          .as("bs"))
      val mo = base.agg(max(col("o_orderkey")).as("mo"),
        count(lit(1)).as("nr"))
      val zfile = (1 to 15).map(i =>
        (col("zkey") > expr(s"element_at(bs, $i)")).cast("long"))
        .reduce(_ + _)
      base.crossJoin(broadcast(bounds)).crossJoin(broadcast(mo))
        .select(explode(array(
          struct(lit("arrival").as("layout"),
            expr("(o_orderkey * 16) div (mo + 1)").as("file_id")),
          struct(lit("zorder").as("layout"), zfile.as("file_id")))).as("lf"),
          col("zx"), col("zy"), col("nr"))
        .select(col("lf.layout").as("layout"), col("lf.file_id").as("file_id"),
          col("zx"), col("zy"), col("nr"))
        .groupBy("layout", "file_id")
        .agg(count(lit(1)).as("n_rows"),
          min(col("zx")).as("min_x"), max(col("zx")).as("max_x"),
          min(col("zy")).as("min_y"), max(col("zy")).as("max_y"),
          max(col("nr")).as("nr"))
        .select(col("layout"), col("file_id"), col("n_rows"),
          col("min_x"), col("max_x"), col("min_y"), col("max_y"),
          (col("min_x") > 80L || col("max_x") < 10L ||
            col("min_y") > 9800L || col("max_y") < 9200L).cast("int")
            .as("skippable"),
          (col("n_rows") * 8 <= col("nr")).cast("int").as("depth_ok"))
        .orderBy("layout", "file_id")
    }),
  )

  /** 16→32-bit bit spread (the z-order/Morton building block) as
    * engine-neutral integer SQL: every other bit of the result carries one
    * input bit. `shl` abstracts the shift syntax (Spark `shiftleft(x, n)`,
    * DuckDB `x << n`); masks are the mask-doubling constants
    * 0x00FF00FF / 0x0F0F0F0F / 0x33333333 / 0x55555555. Inputs MUST be
    * 64-bit: a 32-bit lane overflows at the final shift.
    */
  private[operators] def spreadSql(
      v: String, shl: (String, Int) => String): String = {
    val s1 = s"(($v | ${shl(v, 8)}) & 16711935)"
    val s2 = s"(($s1 | ${shl(s1, 4)}) & 252645135)"
    val s3 = s"(($s2 | ${shl(s2, 2)}) & 858993459)"
    s"(($s3 | ${shl(s3, 1)}) & 1431655765)"
  }

  /** The ONE definition of the (zx, zy, zkey) Morton triple over orders —
    * md06 (the write sort) and md07 (its pruning audit) both derive from
    * it, so a mask/epoch change cannot desynchronize them. The oracle twin
    * is [[zkeyCteSql]] — same algebra, DuckDB shift syntax.
    */
  private def zOrderKeyed(s: SparkSession, dir: String): DataFrame = {
    def shl(e: String, n: Int) = s"shiftleft($e, $n)"
    val x = "(o_custkey & 65535)"
    val y = "(cast(datediff(to_date(o_orderdate), date'1970-01-01') " +
      "as bigint) & 65535)"
    val z = s"(${spreadSql(x, shl)} | ${shl(spreadSql(y, shl), 1)})"
    Tables(s, dir, "orders")
      .select(col("o_orderkey"), expr(x).as("zx"), expr(y).as("zy"),
        expr(z).as("zkey"))
  }

  /** Shared oracle CTE: `k(o_orderkey, zx, zy, zkey)` — [[zOrderKeyed]]'s
    * DuckDB twin, used by both md06's and md07's oracle.
    */
  private def zkeyCteSql: String = {
    def shl(e: String, n: Int) = s"($e << $n)"
    val sx = spreadSql("zx", shl)
    val sy = spreadSql("zy", shl)
    s"""WITH b AS (SELECT o_orderkey,
       |  (o_custkey & 65535) AS zx,
       |  (date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
       |    & 65535) AS zy
       | FROM orders),
       | k AS (SELECT o_orderkey, zx, zy, ($sx | ${shl(sy, 1)}) AS zkey
       |   FROM b)""".stripMargin
  }

  val oracle: Map[String, String] = ListMap(
    // The MERGE contract stated directly: updated survivors + inserts.
    "md01_merge_upsert" ->
      """SELECT o_orderkey, o_custkey,
        | CASE WHEN o_orderkey % 10 = 0 THEN 'X' ELSE o_orderstatus END
        |   AS o_orderstatus,
        | CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1.0
        |   ELSE o_totalprice END AS o_totalprice,
        | strftime(o_orderdate, '%Y-%m-%d') AS order_date
        |FROM orders
        |WHERE o_orderkey IS NOT NULL AND o_orderkey % 10 <> 3
        |UNION ALL
        |SELECT -o_orderkey, o_custkey, 'N', o_totalprice,
        | strftime(o_orderdate, '%Y-%m-%d')
        |FROM orders WHERE o_orderkey % 10 = 7
        |ORDER BY o_orderkey""".stripMargin,

    "ts02_latest_by_key" ->
      """SELECT user_id, event_type,
        | strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
        | event_id AS last_event_id, value AS last_value
        |FROM events
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |  ORDER BY ts DESC, event_id DESC) = 1
        |ORDER BY user_id NULLS FIRST, event_type NULLS FIRST""".stripMargin,

    "ts03_scd2_intervals" ->
      """SELECT user_id, event_type, event_id,
        | strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
        | strftime(LEAD(ts, 1) OVER (PARTITION BY user_id, event_type
        |   ORDER BY ts, event_id), '%Y-%m-%d %H:%M:%S') AS valid_to,
        | CAST(LEAD(ts, 1) OVER (PARTITION BY user_id, event_type
        |   ORDER BY ts, event_id) IS NULL AS INT) AS is_current,
        | value
        |FROM events WHERE ts IS NOT NULL
        |ORDER BY user_id NULLS FIRST, event_type NULLS FIRST, event_id NULLS FIRST""".stripMargin,

    // The diff restated set-wise: survivors that changed, deletions,
    // insertions — the same classification the full-outer join computes.
    "md02_snapshot_diff" ->
      """WITH b AS (
        |  SELECT o_orderkey,
        |   CASE WHEN o_orderkey % 10 = 0 THEN 'X' ELSE o_orderstatus END
        |     AS b_status,
        |   CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1.0
        |     ELSE o_totalprice END AS b_total
        |  FROM orders
        |  WHERE o_orderkey IS NOT NULL AND o_orderkey % 10 <> 3
        |  UNION ALL
        |  SELECT -o_orderkey, 'N', o_totalprice FROM orders
        |  WHERE o_orderkey % 10 = 7),
        | a AS (SELECT o_orderkey AS k, o_orderstatus AS a_status,
        |   o_totalprice AS a_total FROM orders
        |  WHERE o_orderkey IS NOT NULL),
        | j AS (SELECT a.k, b.o_orderkey, a.a_status, a.a_total,
        |   b.b_status, b.b_total
        |  FROM a FULL JOIN b ON b.o_orderkey = a.k),
        | c AS (SELECT *, CASE WHEN k IS NULL THEN 'added'
        |    WHEN o_orderkey IS NULL THEN 'removed'
        |    WHEN a_status <> b_status OR a_total <> b_total THEN 'changed'
        |    END AS change_type FROM j)
        |SELECT COALESCE(k, o_orderkey) AS o_orderkey, change_type,
        | a_status AS old_status, b_status AS new_status,
        | a_total AS old_total, b_total AS new_total
        |FROM c WHERE change_type IS NOT NULL
        |ORDER BY o_orderkey""".stripMargin,

    "ts04_ohlc_bars" -> ohlcOracleSql,

    "dd10_incremental_dedup" ->
      """WITH f AS (SELECT doc_id,
        |   md5(regexp_replace(lower(text), '[ \t\n\f\r]+', ' ', 'g')) AS fp
        |  FROM documents),
        | hist AS (SELECT fp, MIN(doc_id) AS canonical_id FROM f
        |  WHERE doc_id % 5 <> 4 GROUP BY fp)
        |SELECT b.doc_id, b.fp, h.canonical_id,
        | CAST(h.canonical_id IS NULL AS INT) AS is_new
        |FROM f b LEFT JOIN hist h USING (fp)
        |WHERE b.doc_id % 5 = 4 ORDER BY b.doc_id""".stripMargin,

    "md03_purge_cascade" ->
      """WITH dc AS (SELECT c_custkey, c_nationkey FROM customer
        |   WHERE c_custkey % 97 = 0),
        | do_ AS (SELECT o.o_orderkey, dc.c_nationkey FROM orders o
        |   JOIN dc ON o.o_custkey = dc.c_custkey),
        | dl AS (SELECT do_.c_nationkey FROM lineitem l
        |   JOIN do_ ON l.l_orderkey = do_.o_orderkey),
        | nc AS (SELECT c_nationkey, COUNT(*) AS purged_customers FROM dc
        |   GROUP BY 1),
        | no_ AS (SELECT c_nationkey, COUNT(*) AS purged_orders FROM do_
        |   GROUP BY 1),
        | nl AS (SELECT c_nationkey, COUNT(*) AS purged_lineitems FROM dl
        |   GROUP BY 1)
        |SELECT nc.c_nationkey AS nationkey, purged_customers,
        | COALESCE(purged_orders, 0) AS purged_orders,
        | COALESCE(purged_lineitems, 0) AS purged_lineitems
        |FROM nc LEFT JOIN no_ USING (c_nationkey)
        | LEFT JOIN nl USING (c_nationkey)
        |ORDER BY nationkey""".stripMargin,

    // The SCD2 contract stated set-wise: closed v1 rows for changed keys,
    // open v1 rows for the rest, open v2 rows for the changes.
    "md05_scd2_apply" ->
      """SELECT c_custkey, c_mktsegment AS segment,
        | '1970-01-01' AS valid_from,
        | CASE WHEN c_custkey % 7 = 0 THEN '1999-01-01' END AS valid_to,
        | CAST(c_custkey % 7 <> 0 AS INT) AS is_current,
        | 1 AS version
        |FROM customer WHERE c_custkey IS NOT NULL
        |UNION ALL
        |SELECT c_custkey, 'WEB', '1999-01-01', NULL, 1, 2
        |FROM customer WHERE c_custkey % 7 = 0
        |ORDER BY c_custkey, version""".stripMargin,

    // The full recompute — the Spark side must make its merged history +
    // delta partials equal this.
    "md04_incremental_agg" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month,
        | COUNT(*) AS n_orders,
        | CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |   AS total_cents,
        | CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |   // COUNT(*) AS avg_cents
        |FROM orders WHERE o_orderdate IS NOT NULL
        |GROUP BY month ORDER BY month""".stripMargin,

    // Both version audits recomputed from the source table: v1 = the raw
    // snapshot, v2 = md01's MERGE contract (survivors with the update
    // applied + inserts). The +1.0 update rides the same double add before
    // the cents rounding as the Spark side (exact in FP), so totals match
    // bit-for-bit.
    "md08_time_travel" ->
      """WITH b AS (SELECT o_orderkey,
        |   CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |   CAST(round((o_totalprice + 1.0) * 100) AS BIGINT) AS cents_upd
        |  FROM orders)
        |SELECT CAST(1 AS BIGINT) AS version, COUNT(*) AS n_rows,
        |  CAST(SUM(cents) AS BIGINT) AS total_cents FROM b
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), COUNT(*), CAST(SUM(c) AS BIGINT) FROM (
        |  SELECT CASE WHEN o_orderkey % 10 = 0 THEN cents_upd ELSE cents END
        |    AS c FROM b WHERE o_orderkey % 10 <> 3
        |  UNION ALL
        |  SELECT cents FROM b WHERE o_orderkey % 10 = 7)
        |ORDER BY version""".stripMargin,

    // The identical bit algebra, DuckDB shift syntax (the shared CTE).
    "md06_zorder_key" ->
      s"""$zkeyCteSql
         |SELECT o_orderkey, zx, zy, zkey
         |FROM k ORDER BY zkey, o_orderkey""".stripMargin,

    // Same binning + stats + box-overlap test; UNION ALL instead of the
    // explode (oracle states semantics, not the one-scan shape).
    "md07_zorder_pruning" ->
      s"""$zkeyCteSql,
         | m AS (SELECT MAX(o_orderkey) AS mo, COUNT(*) AS nr FROM k),
         | smp AS (SELECT zkey FROM k
         |   ORDER BY ((o_orderkey % 1000003) * 2654435761) % 4294967296,
         |     o_orderkey
         |   LIMIT 4096),
         | q AS (SELECT quantile_cont(zkey,
         |    [${(1 to 15).map(i => i / 16.0).mkString(", ")}]) AS bs
         |   FROM smp),
         | e AS (
         |  SELECT 'arrival' AS layout, (o_orderkey * 16) // (mo + 1)
         |    AS file_id, zx, zy FROM k, m
         |  UNION ALL
         |  SELECT 'zorder', ${(1 to 15).map(i =>
             s"CAST(zkey > bs[$i] AS BIGINT)").mkString(" + ")},
         |   zx, zy FROM k, q),
         | f AS (SELECT layout, file_id, COUNT(*) AS n_rows,
         |   MIN(zx) AS min_x, MAX(zx) AS max_x,
         |   MIN(zy) AS min_y, MAX(zy) AS max_y
         |  FROM e GROUP BY layout, file_id)
         |SELECT layout, file_id, n_rows, min_x, max_x, min_y, max_y,
         | CAST(min_x > 80 OR max_x < 10 OR min_y > 9800 OR max_y < 9200
         |   AS INT) AS skippable,
         | CAST(n_rows * 8 <= nr AS INT) AS depth_ok
         |FROM f, m ORDER BY layout, file_id""".stripMargin,
  )
}
