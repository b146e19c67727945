package graft.streaming

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QuerySuite, Tables}
import graft.operators.{LakeOps, Scratch}

/** Structured Streaming over the `events` table (SURVEY §2.2 streaming row,
  * §7.1 M4). The reference's "vigilante" daily poll (`READme.md:7-9`) is a
  * slow stream of arrival events; this is the same shape at event rates.
  *
  * `st01_stream_hourly` runs a REAL streaming query — file source →
  * watermark → tumbling window agg → memory sink — driven to completion
  * synchronously, then returns the sink table. Because output mode is
  * `complete`, the result equals the batch group-by, which is exactly what
  * the DuckDB oracle checks: a streaming/batch consistency proof.
  *
  * Scale notes: at 100 TB/day the same plan runs with a real source
  * (Kafka/files) and checkpointed state; watermark bounds state size, and
  * the window agg is a standard partial-agg shuffle on (window, event_type).
  * Append-mode + late-data-drop semantics are exercised in the test suite.
  */
object EventsStream extends QuerySuite {
  private val nameCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  def hourlyAgg(df: DataFrame): DataFrame =
    // explicit, not incidental: Spark's window() silently drops null-ts
    // rows, while the oracle's GROUP BY date_trunc would keep a NULL
    // bucket the stream never emits (the q36 convention; r10 review)
    df.filter(col("ts").isNotNull)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))

  val queries: Map[String, Q] = ListMap(
    // Tumbling hourly agg; complete-mode output == batch q23 oracle.
    "st01_stream_hourly" -> ((s, dir) => {
      runCompleteStream(s, dir, "st01_mem")(hourlyAgg)
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour_bucket"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy("hour_bucket", "event_type")
    }),
    "st02_stream_sliding" -> ((s, dir) => slidingQuery(s, dir)),

    // Streaming dedup: state-store keyed dedup over an unbounded stream.
    // Output = the deterministic key set (arrival order decides WHICH
    // physical row survives, so only the keys are emitted — equal to the
    // batch DISTINCT the oracle runs).
    "st03_stream_dedup" -> ((s, dir) => {
      runAppendStream(s, dir, "st03_mem", SkipNoDataBatch) { df =>
        df.dropDuplicates("user_id", "event_type")
          .select(col("user_id"), col("event_type"))
      }.orderBy("user_id", "event_type")
    }),

    // Stream-stream inner join: purchases joined to the same user's signups
    // within the preceding hour. Both sides watermarked; the time-range
    // predicate lets Spark expire join state, so state is bounded by the
    // interval + watermark, not the stream length.
    "st04_stream_stream_join" -> ((s, dir) => {
      runAppendStream(s, dir, "st04_mem", SkipNoDataBatch) { df =>
        intervalJoin(df, "inner")
          .select(col("purchase_id"), col("signup_id"), col("user_id"))
      }.orderBy("purchase_id", "signup_id")
    }),

    // Stream-stream LEFT OUTER join: like st04, but a purchase with no
    // signup in its preceding hour still emits — null-padded — once the
    // watermark PROVES no matching signup can arrive (signup ts can reach
    // up to pts, so the verdict closes when the watermark passes pts).
    // Matched rows emit immediately; at end-of-stream the final watermark
    // (max ts − 10 min) leaves the youngest unmatched purchases withheld
    // in state, and the oracle states that same closure predicate —
    // st07's watermark-closure pattern on the join axis.
    "st11_stream_outer_join" -> ((s, dir) => {
      runAppendStream(s, dir, "st11_mem") { df =>
        intervalJoin(df, "left_outer")
          .select(col("purchase_id"), col("signup_id"), col("user_id"))
      }.orderBy("purchase_id", "signup_id")
    }),

    // FULL OUTER stream-stream join — st11's symmetric completion: BOTH
    // sides emit null-padded rows once their verdict closes, and the two
    // closure horizons differ. A purchase closes when the watermark
    // passes pts (no signup with sts ≤ pts can arrive); a signup closes
    // only when the watermark passes sts + 1 h (a purchase with pts up to
    // an hour LATER could still match) — the join-interval offset shifts
    // the state-eviction horizon. The oracle states both predicates
    // against the min-policy final watermark.
    "st12_stream_full_outer_join" -> ((s, dir) => {
      runAppendStream(s, dir, "st12_mem") { df =>
        intervalJoin(df, "full_outer")
          .select(col("purchase_id"), col("signup_id"),
            coalesce(col("user_id"), col("s_user")).as("user_id"))
      }.orderBy("purchase_id", "signup_id", "user_id")
    }),
    // Stream-static enrichment: the streaming fact (purchases) joined to a
    // STATIC broadcast dimension (customer) — the canonical streaming
    // enrichment shape. The dim is re-planned per micro-batch (picking up
    // dimension updates between batches) and broadcast, so the join adds
    // no state store and no shuffle to the stream.
    "st06_stream_enrich" -> ((s, dir) => {
      runAppendStream(s, dir, "st06_mem", SkipNoDataBatch) { df =>
        val dim = broadcast(Tables(df.sparkSession, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment")))
        df.filter(col("event_type") === "purchase")
          .join(dim, col("user_id") === col("c_custkey"), "left")
          .select(col("event_id"), col("user_id"),
            coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"))
      }.orderBy("event_id")
    }),

    // Streaming OHLC bars — the complete-mode twin of batch ts04: the
    // SAME LakeOps.ohlcAgg definition runs incrementally over the stream
    // (the twin relationship is structural, not copy-paste), so complete
    // output == the batch answer by construction.
    "st08_stream_ohlc" -> ((s, dir) =>
      LakeOps.ohlcProject(
        runCompleteStream(s, dir, "st08_mem")(LakeOps.ohlcAgg))),

    // Custom-state sessionization (flatMapGroupsWithState, event-time
    // timeout) driven over the real file stream. Emission is ONE door,
    // strictly watermark-gated: a session emits only once the watermark
    // strictly passes its end + the 30-min gap (the r15 soundness fix —
    // the pre-r15 second door, prompt emission on a gap-splitting
    // successor, could split a session a late-but-admitted bridge event
    // would weld; see Sessionize's scaladoc). The oracle states the same
    // single close condition. The still-open/unclosed tail sessions are
    // withheld state, not missing data: honest streaming semantics.
    "st07_stream_sessionize" -> ((s, dir) => {
      runAppendStream(s, dir, "st07_mem") { df =>
        val enc = org.apache.spark.sql.Encoders.product[Sessionize.Event]
        Sessionize.sessionize(
          df.select(col("user_id"), col("ts"), col("value")).as(enc)).toDF()
      }
        .select(col("user_id"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
          col("n_events"), col("session_value"))
        .orderBy("user_id", "session_start")
    }),

    // Streaming leaderboard: complete-mode per-type counters (counts +
    // integer-cents totals — commutative, so incremental micro-batch
    // merges can't move a bit), with the top-5 cut applied on the sink
    // table. The running-aggregate state is one row per event type —
    // O(cardinality), not O(stream) — the canonical live-dashboard shape.
    "st09_stream_topk" -> ((s, dir) => {
      runCompleteStream(s, dir, "st09_mem") { df =>
        df.groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 100).cast("long")).as("sum_cents"))
      }
        .orderBy(col("n").desc, col("event_type"))
        .limit(5)
    }),

    // Spark 4's transformWithState — the arbitrary-state API that
    // supersedes flatMapGroupsWithState: typed ValueState per key behind a
    // StatefulProcessor, RocksDB state store required (set on the cloned
    // per-query session). Running per-user totals in integer cents; the
    // corpus arrives as one micro-batch (one file, no maxFilesPerTrigger),
    // so update-mode output is one row per user == the batch aggregate
    // the oracle computes.
    "st10_stream_transform_state" -> ((s, dir) => {
      runStream(s, dir, "st10_mem", "update", SkipNoDataBatch ++ Map(
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")) { df =>
        val sp = df.sparkSession
        import sp.implicits._
        // null user/value dropped like Sessionize does: the primitive
        // tuple encoder ABORTS the whole query on the first null field
        // ('Null value appeared in non-nullable field') where the oracle
        // kept a NULL group — st10 was the one streaming query left
        // unguarded (r11 review; oracle carries the same filter)
        df.filter(col("user_id").isNotNull && col("value").isNotNull)
          .select(col("user_id").cast("long"),
            round(col("value") * 100).cast("long")).as[(Long, Long)]
          .groupByKey(_._1)
          .transformWithState(new RunningTotalsProcessor,
            org.apache.spark.sql.streaming.TimeMode.None(),
            org.apache.spark.sql.streaming.OutputMode.Update(),
            org.apache.spark.sql.Encoders.product[(Long, Long, Long)])
          .toDF("user_id", "n_events", "sum_cents")
      }.orderBy("user_id")
    }),

    // Native session_window aggregation — the DECLARATIVE twin of st07's
    // flatMapGroupsWithState sessionization: Spark's built-in session
    // windows (merging-window state store, no custom StatefulProcessor)
    // over the same 30-min gap. Append mode emits a session once the
    // watermark passes its window end (= last event + gap); window.end
    // is the gap-extended close, where st07 reports the last event ts —
    // the oracle states both contracts against the same batch sessions.
    "st13_session_window" -> ((s, dir) => {
      runAppendStream(s, dir, "st13_mem") { df =>
        // second-truncated like Sessionize (the batch twin's
        // unix_timestamp arithmetic; session_window MERGES at the exact
        // 1800 s boundary just like the oracle's `diff > 1800` — probed,
        // not assumed); null ts and null users dropped per the session
        // convention
        df.filter(col("ts").isNotNull && col("user_id").isNotNull)
          .withColumn("ts", date_trunc("second", col("ts")))
          .withWatermark("ts", "10 minutes")
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
          // null values contribute 0, never NULL out an all-null session —
          // the st07/st13/oracle agreement (r14 review)
          .agg(count(lit(1)).as("n_events"),
            coalesce(sum(col("value").cast("decimal(12,2)")).cast("double"),
              lit(0.0)).as("session_value"))
      }
        .select(col("user_id"),
          date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
            .as("session_start"),
          date_format(col("session_window.end"), "yyyy-MM-dd HH:mm:ss")
            .as("session_end"),
          col("n_events"), col("session_value"))
        .orderBy("user_id", "session_start")
    }),

    // Stream-stream LEFT SEMI interval join on the st04/st11/st12 kernel:
    // "purchases with a qualifying signup", emitted as soon as the match
    // arrives (matched semi output needs no watermark closure; state is
    // still watermark-bounded for the UNMATCHED rows it may yet have to
    // match). Each purchase emits at most once — the oracle is EXISTS.
    "st14_stream_semi_join" -> ((s, dir) => {
      runAppendStream(s, dir, "st14_mem", SkipNoDataBatch) { df =>
        intervalJoin(df, "left_semi")
      }
        .select(col("purchase_id"), col("user_id"),
          date_format(col("pts"), "yyyy-MM-dd HH:mm:ss").as("pts"))
        .orderBy("purchase_id")
    }),

    // Chained stateful aggregation (Spark 4 multiple-stateful-operator
    // support): hourly tumbling counts re-aggregated into DAILY rollups
    // INSIDE one streaming query via window-on-window (`window(window,
    // '1 day')`) — the streaming materialized-view cascade. Append mode
    // emits a day once the watermark reaches its end (INCLUSIVE at
    // equality — WindowCloseBoundarySpec); the oracle states exactly
    // those closed days from the batch table.
    "st15_chained_windows" -> ((s, dir) => {
      runAppendStream(s, dir, "st15_mem") { df =>
        df.withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n_hour"))
          .groupBy(window(col("window"), "1 day"), col("event_type"))
          .agg(sum(col("n_hour")).as("n"), count(lit(1)).as("n_hours"))
      }
        .select(
          date_format(col("window.start"), "yyyy-MM-dd").as("day"),
          col("event_type"), col("n"), col("n_hours"))
        .orderBy("day", "event_type")
    }),

    // foreachBatch MERGE sink — the production lake-upsert pattern the
    // built-in sinks can't express: each micro-batch's latest-row-per-user
    // CDC compaction upserts into a SEEDED parquet keyed table, written to
    // a fresh versioned dir so a failed batch never corrupts the current
    // version — the pipeline's rollback-superior overwrite discipline.
    // The merge is ORDER-INSENSITIVE: a full-outer join keeps the greater
    // struct(last_ts, last_event_id) of (table row, batch row), so a late
    // micro-batch carrying only older events for a user can never regress
    // that user's row — max-wins, not last-batch-wins. Seed keys 100-199
    // overlap events users 100-149, so the run proves BOTH merge paths:
    // updates (event users beat their 1970 seed) and untouched survivors
    // (150-199).
    "st16_stream_merge_sink" -> ((s, dir) => {
      // SkipNoDataBatch: the empty trailing batch merged nothing but still
      // paid a full-outer join + TxLog version write per run
      val (ss, stream) = clonedSessionAndStream(s, dir, SkipNoDataBatch)
      val lake = java.nio.file.Files.createTempDirectory("st16_lake").toString
      // versioned scratch lake rides the shared shutdown-hook cleanup so
      // repeated bench/gate runs don't leak the tree
      graft.operators.Scratch.registerDir(lake)
      // Every version goes through the lake commit protocol
      // (TxLog: data dir first, then one atomic put-if-absent publish) —
      // a batch that crashes mid-write leaves an unpublished orphan dir,
      // never a readable half-version, and readers only ever see the
      // latest COMMITTED state. TxLogSpec proves the CAS/crash contracts.
      // the lake table carries last_ts as a NATIVE timestamp: the merge
      // key must order at full microsecond precision (a second-truncated
      // string key let a chronologically older sub-second event win on
      // the event_id tiebreak — the r10 review's latent regression);
      // formatting to the oracle's string form happens only at read-out
      val seed = Tables(ss, dir, "customer")
        .filter(col("c_custkey").between(100, 199))
        .select(col("c_custkey").cast("long").as("user_id"),
          lit("seed").as("last_type"),
          lit("1970-01-01 00:00:00").cast("timestamp").as("last_ts"),
          lit(-1L).as("last_event_id"))
      graft.operators.TxLog.write(ss, lake, seed, 0L, action = "seed")
      val q = stream.writeStream.outputMode("update")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val sp = batch.sparkSession
          // an event without a timestamp cannot claim to be the latest:
          // struct ordering sorts a null ts SMALLEST, so a user whose
          // batch rows all carry null ts would rank below the 1970 seed
          // and keep it, while the oracle's ROW_NUMBER pick (now filtered
          // identically) replaced the seed (r14 review; fixture-dormant)
          val latest = batch.filter(col("ts").isNotNull)
            .groupBy("user_id")
            .agg(max(struct(col("ts"), col("event_id"), col("event_type")))
              .as("m"))
            .select(col("user_id"),
              col("m.event_type").as("last_type"),
              col("m.ts").as("last_ts"),
              col("m.event_id").as("last_event_id"))
          // ONE version resolution: the merge base is read BY the version
          // the CAS will expect, so base and expectation cannot straddle a
          // concurrent commit (read-latest-then-resolve-again was a TOCTOU
          // seam, and a second pointer+probe pass per micro-batch)
          val cur = graft.operators.TxLog.latestVersion(lake).getOrElse(0L)
          val merged = mergeLatest(
            graft.operators.TxLog.readVersion(sp, lake, cur), latest)
          graft.operators.TxLog.write(sp, lake, merged, cur, action = "merge")
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      graft.operators.TxLog.read(ss, lake)
        .select(col("user_id"), col("last_type"),
          date_format(col("last_ts"), "yyyy-MM-dd HH:mm:ss").as("last_ts"),
          col("last_event_id"))
        .orderBy("user_id")
    }),

    // Chained DEDUP → windowed aggregation — the other
    // multiple-stateful-operator pairing (st15 chains agg→agg): exactly-
    // once hourly counts over an at-least-once feed. State-store keyed
    // dedup on event_id (watermark-bounded) feeds a tumbling hourly
    // count INSIDE one streaming query; the oracle aggregates DISTINCT
    // events over the closed hours (inclusive window-close boundary,
    // WindowCloseBoundarySpec).
    //
    // CONTRACT: replays carry the SAME event time as the original — the
    // at-least-once-delivery shape this dedup exists for. A replay whose
    // jittered ts crosses an hour boundary is outside it: the stream
    // counts the id once in whichever hour's row survived dedup, while
    // the oracle's per-hour DISTINCT counts it in both hours (r11
    // review — stated rather than silently assumed).
    "st17_stream_dedup_agg" -> ((s, dir) => {
      runAppendStream(s, dir, "st17_mem") { df =>
        df.withWatermark("ts", "10 minutes")
          .select(col("event_id"), col("ts"), col("event_type"))
          // a null id is no identity to dedup on — and the oracle's
          // COUNT(DISTINCT event_id) never counts NULLs, so a surviving
          // null-id row would be counted by the stream only (r14 review)
          .filter(col("event_id").isNotNull)
          // WithinWatermark, not dropDuplicates("event_id"): plain dedup
          // only evicts state when the event-time column is IN the key
          // set, so keying by id alone would grow state O(total events)
          // forever — the watermark-bounded claim needs the API built for
          // it (id-only replay semantics, state evicted past the delay)
          .dropDuplicatesWithinWatermark("event_id")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
      }
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
            .as("hour_bucket"),
          col("event_type"), col("n"))
        .orderBy("hour_bucket", "event_type")
    }),
  )

  /** The purchase↔signup interval join shared by st04/st11/st12 (and
    * exercised on crafted fixtures by OuterJoinBoundarySpec): both sides
    * watermarked 10 min, signup within the hour preceding the purchase.
    * Outer variants emit null-padded rows when a side's closure horizon
    * passes — a purchase closes once the query watermark STRICTLY exceeds
    * pts, a signup once it strictly exceeds sts + 1 h; rows exactly ON the
    * final watermark stay withheld in state (the `<` the oracle predicates
    * state, pinned at the boundary by the spec).
    */
  private[streaming] def intervalJoin(
      df: DataFrame, joinType: String): DataFrame = {
    val p = df.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id"), col("ts").as("pts"))
      .withWatermark("pts", "10 minutes")
    val sg = df
      .filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"),
        col("user_id").as("s_user"), col("ts").as("sts"))
      .withWatermark("sts", "10 minutes")
    p.join(sg, expr(
      """user_id = s_user AND
        |sts BETWEEN pts - INTERVAL 1 HOUR AND pts""".stripMargin),
      joinType)
  }

  /** Order-insensitive MERGE step for st16: full-outer join of the current
    * table version and the batch's latest-row-per-user on `user_id`, keeping
    * whichever side carries the greater `struct(last_ts, last_event_id)`.
    * `last_ts` must be the NATIVE timestamp (st16 stores it as one and
    * formats only at read-out): a second-truncated string key collapses
    * sub-second ordering onto the event_id tiebreak, which lets a
    * chronologically OLDER event with a higher id win — the fixture's
    * timestamps carry microseconds, so that divergence is real (r10
    * review; MergeLatestSpec pins the sub-second case). The seed rows'
    * `1970-01-01` lose to any real event. Max-wins (not last-batch-wins)
    * makes the sink idempotent under micro-batch reordering and retries:
    * a late batch carrying only older events can never regress a user's
    * row.
    */
  private[streaming] def mergeLatest(
      cur: DataFrame, batch: DataFrame): DataFrame = {
    // Key contract: user_id is the merge key and must be non-null. A null
    // key would never equality-match in the full-outer join, so every
    // micro-batch would append a fresh null-keyed row instead of merging
    // (and batchWins would misread a cur-side null as batch-wins). The
    // event corpus carries no null user_ids; this guard pins the contract
    // against a future source that does (ADVICE r7).
    val b = batch.filter(col("user_id").isNotNull)
      .withColumnRenamed("user_id", "b_user_id")
      .withColumnRenamed("last_type", "b_last_type")
      .withColumnRenamed("last_ts", "b_last_ts")
      .withColumnRenamed("last_event_id", "b_last_event_id")
    val curKey = struct(col("last_ts"), col("last_event_id"))
    val batchKey = struct(col("b_last_ts"), col("b_last_event_id"))
    val batchWins = col("user_id").isNull ||
      (col("b_user_id").isNotNull && batchKey > curKey)
    cur.join(b, col("user_id") === col("b_user_id"), "full_outer")
      .select(
        coalesce(col("user_id"), col("b_user_id")).as("user_id"),
        when(batchWins, col("b_last_type")).otherwise(col("last_type"))
          .as("last_type"),
        when(batchWins, col("b_last_ts")).otherwise(col("last_ts"))
          .as("last_ts"),
        when(batchWins, col("b_last_event_id")).otherwise(col("last_event_id"))
          .as("last_event_id"))
  }

  /** Shared driver for the streaming queries: file source → `xform` →
    * memory sink, driven to completion synchronously.
    *
    * The reduced shuffle-partition count (streaming state here is tiny, and
    * state-store partition count is fixed at first run) is set on a CLONED
    * session (`newSession`: same SparkContext, own SQLConf), so a concurrent
    * query planned on the caller's session during the stream's lifetime
    * keeps the session-wide setting — the override is query-scoped, never
    * session-global.
    */
  private def runStream(
      s: SparkSession, dir: String, sinkPrefix: String, mode: String,
      extraConfs: Map[String, String] = Map.empty)(
      xform: DataFrame => DataFrame): DataFrame =
    runStreamFrom(s, sinkPrefix, mode, extraConfs)(eventsSource(_, dir))(xform)

  /** The ONE drive-and-stop harness behind every memory-sink streaming
    * query, parameterized by SOURCE: cloned session, unique sink name,
    * start → processAllAvailable → stop (stop in finally — a failed query
    * must not strand a running stream on the shared context). Events
    * queries reach it through [[runStream]]; [[CorpusStream]] passes its
    * documents source directly (r14's deferred cleanup: it used to carry a
    * structural copy of this harness, and a fix here — e.g. the finally —
    * would have silently missed st05).
    */
  private[streaming] def runStreamFrom(
      s: SparkSession, sinkPrefix: String, mode: String,
      extraConfs: Map[String, String] = Map.empty)(
      source: SparkSession => DataFrame)(
      xform: DataFrame => DataFrame): DataFrame = {
    val ss = clonedSession(s, extraConfs)
    val sink = s"${sinkPrefix}_${nameCounter.incrementAndGet()}"
    val q = xform(source(ss)).writeStream.outputMode(mode)
      .format("memory").queryName(sink).start()
    try q.processAllAvailable() finally q.stop()
    ss.table(sink)
  }

  /** Cloned session with the small-state shuffle override (see
    * [[runStream]] doc: query-scoped via `newSession`, never
    * session-global), AQE off (streaming turns it off for every query
    * anyway, with one WARN per query when it is left on) and a checkpoint
    * root of its own under the scratch root, where each query checkpoints
    * under its sink name or a fresh UUID instead of in a temporary dir
    * Spark warns about.
    */
  private def clonedSession(
      s: SparkSession, extraConfs: Map[String, String]): SparkSession = {
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    ss.conf.set("spark.sql.adaptive.enabled", "false")
    ss.conf.set("spark.sql.streaming.checkpointLocation",
      Scratch.newDir(ss, "stream_cp"))
    extraConfs.foreach { case (k, v) => ss.conf.set(k, v) }
    ss
  }

  /** The file-source events stream EVERY events query reads — one
    * definition of the source recipe (schema, glob, normalize) shared by
    * [[runStream]] and the custom-sink st16 path, so a fixture or
    * partitioning change cannot give one query a silently different
    * source than the rest.
    */
  private def eventsSource(ss: SparkSession, dir: String): DataFrame = {
    val rawSchema = Tables.rawEvents(ss, dir).schema
    // layout-aware source (single file OR directory of part files) — the
    // old glob recipe silently streamed zero rows from a directory table,
    // the production layout (r11 10× rehearsal; Tables.streamRaw doc)
    Tables.normalizeEvents(Tables.streamRaw(ss, dir, "events", rawSchema))
  }

  /** st16's entry: it drives its own foreachBatch sink, so it needs the
    * session and the stream, not the memory-sink harness.
    */
  private def clonedSessionAndStream(
      s: SparkSession, dir: String,
      extraConfs: Map[String, String] = Map.empty)
      : (SparkSession, DataFrame) = {
    val ss = clonedSession(s, extraConfs)
    (ss, eventsSource(ss, dir))
  }

  /** Turns off the trailing NO-DATA micro-batch for queries whose output
    * cannot depend on it (r20 optimization; the measured cost of that
    * batch on this harness is 30-45% of the query's wall time — e.g.
    * st13's breakdown read batch0 trigger 3.26 s / no-data batch 1.44 s).
    * Spark fires one extra empty batch after the data drains so that
    * watermark-gated operators can EMIT their closed results; that is
    * load-bearing ONLY for append-mode operators whose emission waits on
    * the watermark (window/session aggs st07/st13/st15/st17, outer joins
    * st11/st12 — those keep the default). It is pure machinery cost for:
    *  - complete mode (st01/st02/st08/st09): every trigger re-emits the
    *    WHOLE result; an empty trigger re-emits the same table.
    *  - update mode with no timers (st10): an empty batch updates nothing.
    *  - append operators that emit ON ARRIVAL: dedup keys (st03/st05),
    *    inner/semi stream-stream joins (st04/st14 — matches emit in the
    *    batch the match forms; the no-data batch only evicts state),
    *    stateless enrichment (st06).
    *  - st16's foreachBatch MERGE: an empty batch merges nothing but still
    *    paid a full join + TxLog version write.
    * At production scale the same flag is a latency/throughput trade (the
    * no-data batch exists for low-latency closure between arrivals);
    * dropping it never changes WHAT these queries emit, only when state
    * eviction happens — and every query here stops right after
    * processAllAvailable. Oracle-gated: the r20 verify run re-proved all
    * 17 st queries hash-identical with this set.
    */
  private[streaming] val SkipNoDataBatch: Map[String, String] =
    Map("spark.sql.streaming.noDataMicroBatches.enabled" -> "false")

  /** Complete-mode runner for streaming aggs (result == the batch agg).
    * Complete mode re-emits the full result every trigger, so the no-data
    * batch is always redundant here (see [[SkipNoDataBatch]]).
    */
  private def runCompleteStream(s: SparkSession, dir: String, sinkPrefix: String)(
      agg: DataFrame => DataFrame): DataFrame =
    runStream(s, dir, sinkPrefix, "complete", SkipNoDataBatch)(agg)

  /** Append-mode variant for stateful operators that only support append
    * output (dedup, stream-stream join). The whole file arrives in one batch
    * and `processAllAvailable` drives every trigger, so append output is
    * complete for the test corpus. `extraConfs` lets emit-on-arrival
    * queries pass [[SkipNoDataBatch]]; watermark-closure queries must not.
    */
  private def runAppendStream(s: SparkSession, dir: String, sinkPrefix: String,
      extraConfs: Map[String, String] = Map.empty)(
      xform: DataFrame => DataFrame): DataFrame =
    runStream(s, dir, sinkPrefix, "append", extraConfs)(xform)

  /** Sliding-window (1 h / 15 min) streaming agg; complete-mode output
    * equals the batch `q36_sliding_windows` oracle. NO watermark: complete
    * mode neither evicts state nor filters output, so one would be dead
    * decoration implying a state bound that does not exist — complete-mode
    * sliding windows retain EVERY window (the append-mode, genuinely
    * watermark-bounded shape is st01's `hourlyAgg`, exercised by
    * WatermarkSpec).
    */
  val slidingQuery: Q = (s, dir) => {
    runCompleteStream(s, dir, "st02_mem") { df =>
      df.filter(col("ts").isNotNull) // declared, like hourlyAgg/q36
        .groupBy(window(col("ts"), "1 hour", "15 minutes"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))
    }
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("n"), col("sum_value"))
      .orderBy("window_start")
  }

  /** The ONE DuckDB statement of the purchase↔signup interval match —
    * st04's whole answer and the `m` CTE of st11/st12. One definition so
    * the three join oracles cannot drift from each other (the twin-drift
    * class commit 82ee721 repaired once already; r10 review flagged the
    * remaining triplication).
    */
  private val matchedJoinSql: String =
    """SELECT p.event_id AS purchase_id, s.event_id AS signup_id,
      |    p.user_id
      |  FROM events p JOIN events s
      |   ON p.event_type = 'purchase' AND s.event_type = 'signup'
      |   AND p.user_id = s.user_id
      |   AND s.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts""".stripMargin

  /** The min-policy final watermark (each side's max event time, least,
    * minus the 10-min delay) — shared by st11/st12. Guarded to NULL when
    * EITHER side has never seen data: DuckDB's least() ignores a NULL
    * argument, but Spark's min multiple-watermark policy pins the global
    * watermark at epoch until both sides advance — so on a corpus with
    * zero signups the stream closes nothing while an unguarded least()
    * emitted every unmatched purchase (r17 review; a NULL w makes every
    * `< w` predicate NULL → oracle emits nothing, matching the stream).
    */
  private val minWatermarkCteSql: String =
    """wm AS (SELECT CASE
      |   WHEN max(ts) FILTER (event_type = 'purchase') IS NOT NULL
      |    AND max(ts) FILTER (event_type = 'signup') IS NOT NULL
      |   THEN least(
      |    max(ts) FILTER (event_type = 'purchase'),
      |    max(ts) FILTER (event_type = 'signup'))
      |   - INTERVAL 10 MINUTE END AS w FROM events)""".stripMargin

  /** Single-sided final watermark (max event time − the 10-min delay)
    * over `table` — shared by st15/st17 and the gap-session oracles
    * (three verbatim copies had re-accumulated after the r10 twin-drift
    * extraction of the sibling CTEs; r17 review). The session oracles
    * derive it from their filtered `e` CTE, the window oracles from the
    * raw table — the parameter keeps that semantic difference explicit.
    */
  private def finalWatermarkCteSql(table: String): String =
    s"wm AS (SELECT MAX(ts) - INTERVAL 10 MINUTE AS w FROM $table)"

  /** Unmatched purchases whose null verdict the watermark closed
    * (pts < wm strictly) — st11's tail and st12's purchase-side tail.
    */
  private val unmatchedPurchaseCteSql: String =
    """unp AS (
      |  SELECT p.event_id AS purchase_id,
      |    CAST(NULL AS BIGINT) AS signup_id, p.user_id
      |  FROM events p, wm
      |  WHERE p.event_type = 'purchase' AND p.ts < wm.w
      |   AND NOT EXISTS (SELECT 1 FROM events s
      |     WHERE s.event_type = 'signup' AND s.user_id = p.user_id
      |      AND s.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts))""".stripMargin

  /** The gap-sessionization CTE chain (g → f → sid: LAG, 30-min gap flag,
    * running session id) shared verbatim by st07 and st13 — the two
    * queries differ ONLY in how a session's `en` is stated and which
    * close predicate applies, so those are the parameters.
    */
  private def sessionOracleSql(enExpr: String, closePred: String): String =
    s"""WITH e AS (SELECT user_id, event_id,
       |  date_trunc('second', ts) AS ts, value
       |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
       | g AS (SELECT user_id, event_id, ts, value,
       |  LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
       | FROM e),
       |f AS (SELECT *, CASE WHEN prev_ts IS NULL THEN 1
       |  WHEN date_diff('second', prev_ts, ts) > 1800 THEN 1 ELSE 0 END
       |    AS new_session FROM g),
       |sid AS (SELECT *, SUM(new_session) OVER (PARTITION BY user_id
       |  ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
       | FROM f),
       |sess AS (SELECT user_id, session_id, COUNT(*) AS n_events,
       |  MIN(ts) AS st, $enExpr AS en,
       |  CAST(COALESCE(SUM(CAST(value AS DECIMAL(12,2))), 0) AS DOUBLE)
       |    AS session_value
       | FROM sid GROUP BY user_id, session_id),
       |${finalWatermarkCteSql("e")}
       |SELECT user_id, strftime(st, '%Y-%m-%d %H:%M:%S') AS session_start,
       | strftime(en, '%Y-%m-%d %H:%M:%S') AS session_end,
       | n_events, session_value
       |FROM sess, wm WHERE $closePred
       |ORDER BY user_id, session_start""".stripMargin

  val oracle: Map[String, String] = ListMap(
    // Streaming complete-mode result == batch hourly aggregation.
    "st01_stream_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_bucket,
        | event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events WHERE ts IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Streaming sliding windows == the batch sliding-window oracle.
    "st02_stream_sliding" ->
      """SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM (
        | SELECT time_bucket(INTERVAL '15 minutes', ts)
        |   - k * (INTERVAL '15 minutes') AS ws, value
        | FROM events CROSS JOIN range(0, 4) t(k)
        | WHERE ts IS NOT NULL)
        |GROUP BY ws ORDER BY window_start""".stripMargin,

    // Streaming keyed dedup == batch DISTINCT over the keys.
    "st03_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,

    // Stream-stream interval join == the batch inequality join (the shared
    // matched-pairs statement, ordered).
    "st04_stream_stream_join" ->
      s"""$matchedJoinSql
         |ORDER BY purchase_id, signup_id""".stripMargin,

    // Left-outer = the inner matches (emitted eagerly) plus the unmatched
    // purchases whose verdict the FINAL watermark closed. Each side's
    // `withWatermark` tracks its own max event time, and the query-global
    // watermark is their MINIMUM (Spark's default multiple-watermark
    // policy), so wm = least(max purchase ts, max signup ts) − 10 min; a
    // null row emits only once that watermark passes pts (no signup with
    // sts ≤ pts can still arrive). Verified empirically at both gate
    // scales: the emitted/withheld boundary tracks the min-policy
    // watermark, not the overall max ts.
    "st11_stream_outer_join" ->
      s"""WITH m AS (
         |  $matchedJoinSql),
         | $minWatermarkCteSql,
         | $unmatchedPurchaseCteSql
         |SELECT purchase_id, signup_id, user_id FROM m
         |UNION ALL
         |SELECT purchase_id, signup_id, user_id FROM unp
         |ORDER BY purchase_id, signup_id""".stripMargin,

    // Full outer = matches + both closure sets: purchases close at
    // pts < wm, signups at sts + 1 h < wm (the interval offset delays the
    // signup horizon — a later purchase could still match).
    "st12_stream_full_outer_join" ->
      s"""WITH m AS (
         |  $matchedJoinSql),
         | $minWatermarkCteSql,
         | $unmatchedPurchaseCteSql,
         | uns AS (
        |  SELECT CAST(NULL AS BIGINT) AS purchase_id,
        |    s.event_id AS signup_id, s.user_id
        |  FROM events s, wm
        |  WHERE s.event_type = 'signup' AND s.ts + INTERVAL 1 HOUR < wm.w
        |   AND NOT EXISTS (SELECT 1 FROM events p
        |     WHERE p.event_type = 'purchase' AND p.user_id = s.user_id
        |      AND p.ts BETWEEN s.ts AND s.ts + INTERVAL 1 HOUR))
        |SELECT purchase_id, signup_id, user_id FROM m
        |UNION ALL SELECT purchase_id, signup_id, user_id FROM unp
        |UNION ALL SELECT purchase_id, signup_id, user_id FROM uns
        |ORDER BY purchase_id, signup_id, user_id""".stripMargin,

    // Stream-static enrichment == the batch left join.
    "st06_stream_enrich" ->
      """SELECT e.event_id, e.user_id,
        | COALESCE(c.c_mktsegment, 'UNKNOWN') AS segment
        |FROM events e LEFT JOIN customer c ON c.c_custkey = e.user_id
        |WHERE e.event_type = 'purchase'
        |ORDER BY e.event_id""".stripMargin,

    // Streaming complete-mode OHLC == the batch downsample: ts04's oracle
    // text itself, not a copy.
    "st08_stream_ohlc" -> LakeOps.ohlcOracleSql,

    // Streaming custom-state sessionization == the batch q29 sessions the
    // STREAM has closed: every session is watermark-gated — emitted only
    // once the watermark STRICTLY passes end + 30-min gap (the event-time
    // timeout). The r11→r14 engine also emitted a session the moment a
    // gap-splitting SUCCESSOR arrived (and this predicate then modeled
    // that with `session_id < max_sid`), but prompt emission is unsound:
    // a late-but-admitted event can bridge an already-emitted session to
    // its successor, splitting what the batch sort computes as ONE
    // session (r15 review — the engine now welds via list state and
    // emits only on watermark closure, so the predicate returns to the
    // pure watermark gate). Open/unclosed tail sessions are withheld
    // state by design.
    "st07_stream_sessionize" ->
      sessionOracleSql("MAX(ts)", "en + INTERVAL 30 MINUTE < w"),

    // Streaming complete-mode leaderboard == the batch top-5 by count.
    "st09_stream_topk" ->
      """SELECT event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |   AS sum_cents
        |FROM events GROUP BY event_type
        |ORDER BY n DESC, event_type LIMIT 5""".stripMargin,

    // transformWithState running totals == the batch per-user aggregate.
    "st10_stream_transform_state" ->
      """SELECT CAST(user_id AS BIGINT) AS user_id, COUNT(*) AS n_events,
        | CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |   AS sum_cents
        |FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    // Native session windows == the same batch sessions st07 gates on,
    // with session_end reported as the gap-extended window close
    // (last event + 30 min). Emission is INCLUSIVE at the boundary —
    // windowed-aggregate state emits once watermark >= window end
    // (en <= w), unlike join-state eviction which is strict
    // (OuterJoinBoundarySpec); WindowCloseBoundarySpec pins both sides
    // of that asymmetry at exact equality.
    "st13_session_window" ->
      sessionOracleSql("MAX(ts) + INTERVAL 30 MINUTE", "en <= w"),

    // Semi-join output = purchases with ≥ 1 signup in the preceding hour
    // (matched rows emit on match — no watermark cut on the oracle).
    "st14_stream_semi_join" ->
      """SELECT p.event_id AS purchase_id, p.user_id,
        | strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS pts
        |FROM events p WHERE p.event_type = 'purchase' AND EXISTS (
        | SELECT 1 FROM events s WHERE s.event_type = 'signup'
        |  AND s.user_id = p.user_id
        |  AND s.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts)
        |ORDER BY purchase_id""".stripMargin,

    // Daily rollups == the batch daily aggregate over the days whose end
    // the final watermark passed; n_hours counts the distinct event
    // hours that fed each day (proving the chain really aggregated the
    // hourly layer, not the raw rows).
    "st15_chained_windows" ->
      s"""WITH h AS (SELECT date_trunc('hour', ts) AS hb, event_type,
         |   COUNT(*) AS n_hour FROM events GROUP BY 1, 2),
         | d AS (SELECT date_trunc('day', hb) AS day, event_type,
         |   CAST(SUM(n_hour) AS BIGINT) AS n, COUNT(*) AS n_hours
         |  FROM h GROUP BY 1, 2),
         | ${finalWatermarkCteSql("events")}
         |SELECT strftime(day, '%Y-%m-%d') AS day, event_type, n, n_hours
         |FROM d, wm WHERE day + INTERVAL 1 DAY <= w
         |ORDER BY day, event_type""".stripMargin,

    // MERGE result = event users' latest rows + the seed rows whose key
    // no batch touched.
    "st16_stream_merge_sink" ->
      """WITH latest AS (SELECT user_id, event_type AS last_type,
        |   strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
        |   event_id AS last_event_id
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) = 1),
        | seed AS (SELECT CAST(c_custkey AS BIGINT) AS user_id,
        |   'seed' AS last_type, '1970-01-01 00:00:00' AS last_ts,
        |   CAST(-1 AS BIGINT) AS last_event_id
        |  FROM customer WHERE c_custkey BETWEEN 100 AND 199)
        |SELECT * FROM latest
        |UNION ALL
        |SELECT * FROM seed WHERE user_id NOT IN
        | (SELECT user_id FROM latest)
        |ORDER BY user_id""".stripMargin,

    // Dedup→agg chain == hourly counts of DISTINCT event_ids over the
    // closed hours (event_id is unique in the batch table, so DISTINCT
    // is the contract the dedup stage enforces against replays). The
    // null-id filter matches the STREAM's pre-dedup isNotNull: a bucket
    // holding only null-id events must be ABSENT, not an n=0 row (DuckDB's
    // COUNT(DISTINCT) over all-nulls still yields a group — r17 review;
    // dormant on the current fixture, which has no all-null-id bucket).
    "st17_stream_dedup_agg" ->
      s"""WITH h AS (SELECT date_trunc('hour', ts) AS hb, event_type,
         |   COUNT(DISTINCT event_id) AS n FROM events
         |  WHERE event_id IS NOT NULL GROUP BY 1, 2),
         | ${finalWatermarkCteSql("events")}
         |SELECT strftime(hb, '%Y-%m-%d %H:%M:%S') AS hour_bucket,
         | event_type, n
         |FROM h, wm WHERE hb + INTERVAL 1 HOUR <= w
         |ORDER BY hour_bucket, event_type""".stripMargin,
  )
}

/** Running per-user (count, cents) totals behind Spark 4's
  * `transformWithState`: typed `ValueState` keyed by user, updated per
  * input batch, emitting the post-batch totals. State is two longs per
  * key — O(keys), TTL-free here (the batch corpus is finite; a production
  * stream would pass a TTLConfig).
  */
private[streaming] class RunningTotalsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long), (Long, Long, Long)] {
  @transient private var totals:
    org.apache.spark.sql.streaming.ValueState[(Long, Long)] = _

  override def init(
      outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    totals = getHandle.getValueState[(Long, Long)]("totals",
      org.apache.spark.sql.Encoders.product[(Long, Long)],
      org.apache.spark.sql.streaming.TTLConfig.NONE)

  override def handleInputRows(
      key: Long, rows: Iterator[(Long, Long)],
      timerValues: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[(Long, Long, Long)] = {
    var (c, sum) = if (totals.exists()) totals.get() else (0L, 0L)
    rows.foreach { r => c += 1; sum += r._2 }
    totals.update((c, sum))
    Iterator.single((key, c, sum))
  }
}
