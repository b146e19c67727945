package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): times every declared query on
  * SPARK_GRAFT_SF_DIR and prints one JSON line.
  */
object Bench {
  /** Scratch-group OWNERS: the query charged with building its group's
    * shared scratch tables (tag prefix → owner). Before timing an owner,
    * [[run]] clears just that group's scratch tags, so the build cost is
    * paid by the owner in BOTH timed passes — deterministic attribution
    * regardless of pass order. (Round 4's reversed second pass otherwise
    * let every shared-scratch query take one free-ride pass, and the
    * min-of-passes silently excluded the build cost from the whole
    * report — the round-4 ADVICE finding.) Non-owner sharers measure the
    * marginal cost with the group's scratch in place, which is the
    * pipeline-use shape; owners measure build + query.
    */
  private val scratchOwner: Map[String, Seq[String]] = Map(
    "dd02_minhash_lsh" -> Seq("dd02_"),
    "dd03_simhash" -> Seq("dd03_"),
    "dd07_embedding_lsh_neardup" -> Seq("dd07_"),
    "ss04_ann_ivf" -> Seq("ss04_"),
    // gr01 also owns the gr_pairs table all four graph queries share AND
    // the gr01_edges table gr03 now projects from (r14 consolidation) —
    // gr02/gr03/rec01 measure marginal cost with both in place.
    "gr01_pagerank" -> Seq("gr01_", "gr_pairs"),
    // gr03 still owns its OWN output scratch (gr03_hops — clearing it makes
    // the timed pass recompute the BFS, not re-read parquet), but NOT the
    // shared gr01_edges/gr_pairs it reads. Its number is therefore the
    // marginal cost ONLY when gr01 ran earlier in the same pass (true in
    // the full suite's forward pass; the reversed pass charges the build to
    // gr03 and min-of-2 discards it). A standalone SPARK_GRAFT_ONLY=gr03
    // run silently includes the shared edge build in BOTH passes — select
    // gr01 alongside it for a marginal reading (r14 ADVICE).
    "gr03_bfs_hops" -> Seq("gr03_"),
    "dd06_dedup_clusters" -> Seq("dd06_"),
    "dd08_semantic_clusters" -> Seq("dd08_"),
    "md01_merge_upsert" -> Seq("md01_"),
  )

  /** Times each query against the materializing noop sink. A query that
    * throws lands in the second map (error text) and NEVER as a timing —
    * a crash must not masquerade as a fast run in BENCH_rN deltas. The
    * third map is the scratch-BUILD share of each query's wall time
    * (seconds spent writing scratch parquet during that query), drained
    * from the build meter per query so owners' numbers can be read as
    * query-time + build-time instead of one conflated figure.
    */
  def run(spark: SparkSession, sfDir: String,
      queries: Seq[(String, QuerySuite#Q)])
      : (Map[String, Double], Map[String, String], Map[String, Double]) = {
    operators.Scratch.drainBuildSeconds() // reset the meter
    val results = queries.map { case (name, fn) =>
      scratchOwner.get(name).foreach(prefixes =>
        operators.Scratch.clear(t => prefixes.exists(t.startsWith)))
      val t0 = System.nanoTime()
      val err =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
        catch { case t: Throwable => Some(t.toString) }
      val buildS = operators.Scratch.drainBuildSeconds().values.sum
      (name, (System.nanoTime() - t0) / 1e9, err, buildS)
    }
    (results.collect { case (k, v, None, _) => (k, v) }.toMap,
      results.collect { case (k, _, Some(e), _) => (k, e) }.toMap,
      results.collect { case (k, _, _, b) if b > 0 => (k, b) }.toMap)
  }

  /** The host-drift control trio: queries untouched for many rounds,
    * scratch-free, scan+aggregate only — code-stable by construction, so a
    * large pass-over-pass spread in their summed time is the HOST moving
    * between passes, not the code (r15/r16 drift adjudications).
    */
  private[graft] val DriftControl =
    Seq("tx01_token_counts", "tx02_quality", "tx03_langid")

  /** Summed control-trio time for one pass; None unless the FULL trio ran
    * clean (a partial trio under SPARK_GRAFT_ONLY is not a calibrated
    * control level) AND the sum is positive — a degenerate zero reading is
    * UNCALIBRATED, not "perfectly quiet" (r17 ADVICE: a zero control level
    * used to read as spread 0 and silently suppress the drift retry).
    */
  private[graft] def controlSum(ok: Map[String, Double]): Option[Double] = {
    val vs = DriftControl.flatMap(ok.get)
    if (vs.size == DriftControl.size && vs.sum > 0) Some(vs.sum) else None
  }

  /** None = uncalibrated (a non-positive reading), never zero spread. */
  private[graft] def spreadPct(a: Double, b: Double): Option[Double] =
    if (math.min(a, b) > 0) Some(math.abs(a - b) / math.min(a, b) * 100)
    else None

  /** Spread of the two LOWEST control sums — the two passes that back the
    * published min. With two passes this is exactly the r16 `spread_pct`;
    * with three it reports whether the published min is backed by two
    * QUIET passes (the whole point of the retry), not whether some pass
    * drifted (one did — that's why there are three). None = uncalibrated
    * (fewer than two sums, or a non-positive one).
    */
  private[graft] def bestTwoSpreadPct(sums: Seq[Double]): Option[Double] = {
    val s = sums.sorted
    if (s.size < 2) None else spreadPct(s(0), s(1))
  }

  /** Above this control-trio spread, the slower pass ran on a drifted host
    * and the published min is effectively min-of-ONE-quiet-pass (the
    * BENCH_r16 driver artifact recorded spread 782 exactly this way).
    */
  private[graft] val DriftRetryThresholdPct = 15.0
  private[graft] val MaxPasses = 3

  /** Self-healing decision (r16 verdict #1): retry while the published min
    * lacks two quiet backing passes, up to [[MaxPasses]] total (one Option
    * per pass run so far — the length IS the pass count). No retry without
    * a full control reading from every pass — an errored control query
    * must not buy extra passes; nor does an UNCALIBRATED one (non-positive
    * sum → controlSum None → bestTwoSpreadPct None → no retry, and the
    * artifact flags it instead of publishing spread 0).
    */
  private[graft] def shouldRetry(controlSums: Seq[Option[Double]]): Boolean =
    controlSums.size < MaxPasses && controlSums.forall(_.isDefined) &&
      bestTwoSpreadPct(controlSums.flatten).exists(_ > DriftRetryThresholdPct)

  /** Pinned QUIET-host reference for the control trio, seconds per warmed
    * pass — mirrored from QUIET_BASELINE.md, which a spec pins to agree
    * with this constant (QuietBaselineSpec). Re-pinned r19 from the
    * committed quiet readings: every quiet window r17–r19 reads its
    * min control sum at 1.44–1.49 s (r18 quiet window 1.44/1.49, r19
    * isolated 1.46) against the original 1.4, so `level_ratio` carried a
    * standing ~5–10% bias and genuinely quiet suite runs grazed past the
    * published band top (the r18 verdict's "drifting stale" note).
    * Drifted sessions read 2–12 s — the populations stay well separated.
    * The spread retry above heals INTRA-session drift; this absolute
    * level is the only signal for the remaining failure class, a session
    * where EVERY pass runs slow (the BENCH_r17 driver artifact: controls
    * 1.99/3.39/2.11 s, all three passes ~1.4× drifted, published 147.58 s
    * that a judge quiet re-run read as 118.91 s on identical code).
    */
  private[graft] val QuietTrioRefS = 1.45

  /** Probe trio level / quiet reference above which the session counts as
    * whole-host-slow. Against the re-pinned 1.45 reference: the quiet
    * population reads 0.99–1.08 (readings 1.44–1.57 s) and the
    * contaminated population 1.37–8.4 (the r17 driver passes
    * 1.99/3.39/2.11 s → 1.37/2.34/1.46) — 1.3 splits the observed
    * populations with margin on both sides.
    */
  private[graft] val ProbeLevelThreshold = 1.3
  private[graft] val MaxProbes = 3
  private[graft] val DefaultProbeWaitS = 60

  /** Probe-then-fire decision (r17 verdict #1): after each pre-run trio
    * probe, wait and re-probe while the latest level reads whole-host-slow
    * — bounded at [[MaxProbes]] probes so a persistently busy host delays
    * the run by ≤ ~2 min instead of blocking it (the artifact then ships
    * with `level_ratio` flagging the contamination). A non-positive level
    * is uncalibrated: stop probing rather than loop on garbage.
    */
  private[graft] def shouldProbeAgain(levels: Seq[Double],
      quietRef: Double = QuietTrioRefS): Boolean =
    levels.size < MaxProbes && levels.nonEmpty && levels.last > 0 &&
      quietRef > 0 && levels.last / quietRef > ProbeLevelThreshold

  /** Absolute host level of the published numbers: the MINIMUM control-trio
    * sum across the timed passes (the level backing the best pass) over the
    * pinned quiet reference. ≈1.0 = quiet; ≥ ~1.3 = every pass ran slow and
    * the totals are host-inflated — the class the spread cannot see. None =
    * uncalibrated.
    */
  private[graft] def levelRatio(minControlSum: Double,
      quietRef: Double = QuietTrioRefS): Option[Double] =
    if (minControlSum > 0 && quietRef > 0) Some(minControlSum / quietRef)
    else None

  /** JSON string escape (backslash, quote, ALL control chars) — the ONE
    * escaper behind every hand-emitted JSON artifact (bench line, detail
    * file, Verify's oracle_sql.json): an unescaped tab or CR in
    * builder-authored SQL makes the driver's json.load fail and silently
    * zero the round's signal, and two private copies of this table had
    * already drifted once (r15 review).
    */
  private[graft] def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // iteration aid: SPARK_GRAFT_ONLY=tx03_langid,tx07_clean_corpus benches
    // just those queries (driver runs never set it — full suite)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // unknown names fail LOUDLY, mirroring Verify's guard: a typo'd or
    // since-renamed query otherwise yields a vacuous zero-query run with
    // exit 0 — and scale_ladder.sh then burns minutes of fixture builds
    // over empty measurements (r17 review)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      if (unknown.nonEmpty) {
        System.err.println(
          s"SPARK_GRAFT_ONLY names not in SparkEntry.queries: " +
            unknown.toSeq.sorted.mkString(", "))
        sys.exit(2)
      }
    }
    val selected = (only match {
      case Some(names) => SparkEntry.queries.filter(q => names(q._1))
      case None => SparkEntry.queries
    }).toSeq
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // expected: Checkpoints.release logs "lineage has been truncated" per round
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD",
      org.apache.logging.log4j.Level.ERROR)
    // Steady-state measurement: one UNTIMED pass of the full query surface
    // first. A parquet count() warms nothing real (it answers from footer
    // metadata), so the old per-table touch left the first measured queries
    // paying JIT + codegen-compile + page-cache misses that no later query
    // pays — cross-round deltas then mixed methodology noise with real
    // regressions. The warmup pass runs the same noop-materializing sink,
    // so every scan, codegen unit, and shuffle path is hot before timing.
    // SPARK_GRAFT_WARMUP=0 skips it (cold-start numbers).
    if (sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") != "0") {
      run(spark, sfDir, selected)
      // The warmup pass populates the scratch cache (materialized signature
      // tables, CC/PageRank results). Without clearing it the timed pass of
      // every scratch-backed query (dd02/dd03/dd06/dd07/dd08/gr01/ss05)
      // would measure a small parquet re-read, not the operator. Clearing
      // here keeps intra-pass sharing (dd02+dd06 share one signature build
      // within the timed pass) while making each pass compute its own work.
      operators.Scratch.clear()
    }
    // Probe-then-fire (r17 verdict #1): the spread retry below heals a
    // session where ONE pass drifted, but not one where every pass runs on
    // a slow host — so before timing anything, the control trio runs ALONE
    // (post-warmup, so the reading is JIT-warm like the pinned reference)
    // and a whole-host-slow level waits DefaultProbeWaitS and re-probes,
    // up to MaxProbes. All probe levels ship in host_drift.probe_levels,
    // and the timed passes' absolute level_ratio is stamped regardless —
    // a still-contaminated artifact now says so on its own instead of
    // needing a judge re-run. Skipped when the selection lacks the full
    // trio (uncalibrated) or under SPARK_GRAFT_PROBE=0 (iteration aid;
    // driver runs never set it).
    // The quiet reference is pinned AT sf0.1 (QUIET_BASELINE.md) — the
    // trio's absolute time scales with the corpus, so on any other input
    // (sf0.001 iteration, the 10x/100x ladder fixtures) the ratio is
    // meaningless and the probe would spin its full 3x60s budget on a
    // perfectly quiet host. Other fixtures stay probe-less (their drift
    // signal is the scale-free spread_pct) unless a reference for THAT
    // fixture is supplied via SPARK_GRAFT_QUIET_REF.
    val quietRef: Option[Double] =
      sys.env.get("SPARK_GRAFT_QUIET_REF").map(_.toDouble).filter(_ > 0)
        .orElse(if (new java.io.File(sfDir).getName == "sf0.1")
          Some(QuietTrioRefS) else None)
    val trioSelected = selected.filter(q => DriftControl.contains(q._1))
    val probeLevels = scala.collection.mutable.ArrayBuffer[Double]()
    if (sys.env.getOrElse("SPARK_GRAFT_PROBE", "1") != "0" &&
        quietRef.isDefined &&
        trioSelected.map(_._1).toSet == DriftControl.toSet) {
      val waitMs = sys.env.getOrElse("SPARK_GRAFT_PROBE_WAIT_S",
        DefaultProbeWaitS.toString).toLong * 1000L
      var more = true
      while (more) {
        val level = controlSum(run(spark, sfDir, trioSelected)._1)
        level.foreach(probeLevels += _)
        // an errored/uncalibrated probe stops the loop: the timed passes
        // will surface the error, and looping on garbage buys nothing
        more = level.isDefined &&
          shouldProbeAgain(probeLevels.toSeq, quietRef.get)
        if (more) Thread.sleep(waitMs)
      }
    }
    // noop sink: materializes every row of the final plan (unlike count(),
    // under which Catalyst elides top-level ORDER BY + output projection).
    // MIN over two timed passes: a single pass over ~100 queries reports
    // whatever GC pause / page-cache eviction / compaction hiccup landed on
    // a query (round 3 showed 10x phantom "regressions" on queries whose
    // isolated time was unchanged); the min of two independent passes is
    // the operator's cost, not the host's mood. The second pass runs in
    // REVERSED order: same-order passes give a query the same neighborhood
    // twice, so a systematic neighbor effect (a GC-heavy predecessor, a
    // page-cache-evicting scan) survives the min — reversing gives each
    // query two different neighborhoods and the min approaches its
    // isolated time. Scratch tables are cleared between passes so each one
    // computes its own materializations.
    val passes = scala.collection.mutable.ArrayBuffer(
      run(spark, sfDir, selected))
    operators.Scratch.clear()
    passes += run(spark, sfDir, selected.reverse)
    // Self-HEALING retry (r16 verdict #1): the r16 driver artifact proved
    // the drift detector works (control spread 782: trio pass-1 12.2 s vs
    // pass-2 1.4 s) but the published min was then backed by ONE quiet
    // pass. When the control-trio spread between the best two passes
    // exceeds the threshold, run one extra full pass (forward order — a
    // third neighborhood) and min over all of them; the artifact records
    // passes_run and every pass's control level, so a judge can see
    // whether the published numbers are min-of-two-quiet or still
    // contaminated after the cap.
    if (shouldRetry(passes.map(p => controlSum(p._1)).toSeq)) {
      operators.Scratch.clear()
      passes += run(spark, sfDir, selected)
    }
    val oks = passes.map(_._1).toSeq
    // a query that failed in ANY pass reports as an error, never a time
    val errMap = passes.map(_._2).reduce(_ ++ _)
    val allKeys = oks.flatMap(_.keySet).toSet
    val ok = allKeys.map(k => k -> oks.flatMap(_.get(k)).min).toMap
    // (string escaping via the object-level [[jstr]] — shared with Verify)
    // Scratch-build attribution rides with the pass that supplied the
    // reported (min) time, so query-time − build-time is internally
    // consistent per query. Sub-5ms builds are noise, not attribution, and
    // errored queries carry no time for a build entry to be read against.
    val buildS = (allKeys -- errMap.keys).flatMap { k =>
      val minIdx = oks.indices.minBy(i => oks(i).getOrElse(k, Double.MaxValue))
      val b = passes(minIdx)._3.getOrElse(k, 0.0)
      if (b > 0.005) Some(k -> b) else None
    }.toMap
    val okClean = ok -- errMap.keys
    // Double.toString is locale-independent ('.' decimal point always);
    // String.format would honor the JVM default locale and could emit ','.
    def num(v: Double): String = (math.round(v * 100) / 100.0).toString
    // Per-query values in the stdout line carry ONE decimal: at 158
    // queries, centisecond values push the line past the driver's
    // 2000-char tail and the parse silently dies (the round-4 failure
    // mode, re-measured this round at 2077 chars). Decisecond precision
    // keeps the line ~1.75 KB with sbt's trailer inside the tail; the
    // full-precision per-query numbers live in bench_detail.json.
    def num1(v: Double): String =
      if (v >= 9.95) math.round(v).toString // "11", not "10.8": line budget
      else {
        val d = math.round(v * 10) // deciseconds
        // whole seconds print bare ("1", not "1.0") — ~13 queries x 2
        // chars of line budget at the current suite size
        if (d % 10 == 0) (d / 10).toString else (d / 10.0).toString
      }
    // The harness captures only the LAST 2000 chars of output and parses the
    // JSON line out of that tail; full query names at nanosecond precision
    // overflow it (~3.5 KB) and the line never parses. So the printed line
    // uses the unique short prefix of each query name ("q01_pricing_summary"
    // -> "q01"), decisecond per-query precision, and the sf dir's basename —
    // at 158 queries that is ~1.75 KB, leaving tail room for sbt's trailing
    // "[success]" line; the full-name full-precision detail goes to
    // bench_detail.json beside the build.
    val ordered = selected.map(_._1)
    def short(name: String): String = name.takeWhile(_ != '_')
    val shortUnique = ordered.groupBy(short).forall(_._2.sizeIs == 1)
    def key(name: String): String = if (shortUnique) short(name) else name
    val qs = ordered.filter(okClean.contains)
      .map(k => jstr(key(k)) + ":" + num1(okClean(k))).mkString("{", ",", "}")
    // The stdout error map must NEVER defeat the driver's 2000-char tail
    // parse (r7: 11 errors × 120 chars pushed the line past it and
    // BENCH_r07 landed `parsed: null` — the bench signal went blind). Cap
    // at 3 errors × 40 chars + an overflow count; full text is in
    // bench_detail.json.
    val errShown = errMap.toSeq.sortBy(_._1).take(3).map { case (k, e) =>
      jstr(key(k)) + ":" + jstr(e.take(40))
    }
    val errOver =
      if (errMap.size > 3) Seq(jstr("_more") + ":" + jstr(s"+${errMap.size - 3}"))
      else Seq.empty
    val errs = (errShown ++ errOver).mkString("{", ",", "}")
    val total = okClean.values.sum
    val fullQs = ordered.filter(okClean.contains)
      .map(k => jstr(k) + ":" + okClean(k)).mkString("{", ",", "}")
    val buildJson = buildS.toSeq.sortBy(_._1)
      .map { case (k, b) => jstr(k) + ":" + b }.mkString("{", ",", "}")
    val fullErrs = errMap.toSeq.map { case (k, e) =>
      jstr(k) + ":" + jstr(e.take(300))
    }.mkString("{", ",", "}")
    // Host-drift self-diagnosis (r15 verdict: two rounds burned a judge
    // cycle on "is the total real?"). The raw per-pass totals (a quiet
    // host reads them within a few percent of each other) plus the
    // control-trio level of EVERY pass. `spread_pct` is the best-two
    // spread (see [[bestTwoSpreadPct]]): < threshold means the published
    // min is backed by two quiet passes — either no drift happened, or
    // the retry above healed it; `passes_run: 3` records that it fired.
    val passTotals = {
      val parts = oks.zipWithIndex.map { case (okP, i) =>
        val t = okP.collect { case (k, v) if !errMap.contains(k) => v }.sum
        s""""p${i + 1}_s":$t"""
      }
      s""","pass_totals":{${parts.mkString(",")}}"""
    }
    val driftHint = {
      // degrade, don't vanish: if a control query errored in some pass,
      // the spread is published over the subset present in EVERY pass —
      // the exact rounds with a flaky pass need the drift signal most, and
      // passes_run is recorded nowhere else (r17 review; the RETRY
      // decision above stays strict-full-trio so an errored control can
      // never buy extra passes).
      val shared = DriftControl.filter(k => oks.forall(_.contains(k)))
      if (shared.isEmpty) ""
      else {
        val cs = oks.map(ok => shared.map(ok).sum)
        val levels = cs.zipWithIndex
          .map { case (c, i) => s""""control_p${i + 1}_s":$c""" }.mkString(",")
        // null + uncalibrated flag, never a fake 0 spread (r17 ADVICE)
        val spread = bestTwoSpreadPct(cs)
          .map(s => (math.round(s * 10) / 10.0).toString).getOrElse("null")
        val uncal = if (bestTwoSpreadPct(cs).isEmpty)
          ""","uncalibrated":true""" else ""
        // the absolute level stamp (r17 verdict #1) — only calibrated when
        // the FULL trio ran in every pass (a partial-trio sum is not
        // comparable to the full-trio quiet reference) AND a reference
        // exists for this fixture (sf0.1 or SPARK_GRAFT_QUIET_REF)
        val ratio = (for {
          ref <- quietRef if shared == DriftControl
          r <- levelRatio(cs.min, ref)
        } yield (math.round(r * 100) / 100.0).toString).getOrElse("null")
        val refJson = quietRef.map(_.toString).getOrElse("null")
        val probes =
          if (probeLevels.isEmpty) ""
          else s""","probe_levels":[${
            probeLevels.map(v => math.round(v * 100) / 100.0).mkString(",")}]"""
        s""","host_drift":{"control":${jstr(shared.mkString(","))},$levels,"spread_pct":$spread$uncal,"level_ratio":$ratio,"quiet_ref_s":$refJson,"passes_run":${oks.size}$probes}"""
      }
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_detail.json"),
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$fullQs,"errors":$fullErrs,"scratch_build_s":$buildJson$passTotals$driftHint,"sf":${jstr(sfDir)}}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val sfName = new java.io.File(sfDir).getName
    val full =
      s"""{"metric":"total","value":${num(total)},"unit":"sec","queries":$qs,"errors":$errs,"sf":${jstr(sfName)}}"""
    // Hard invariant: the line plus sbt's "[success] Total time: ..."
    // trailer (~75 chars) must fit the driver's 2000-char tail — 1900 is
    // the measured-safe budget (169 error-free queries are 1880 chars; the
    // r8 run proved the fallback fires correctly past the cap). If future
    // query-set growth overflows it, degrade to a minimal always-parseable
    // line (the detail file above already carries the full data) rather
    // than shipping another silently-unparsed round.
    val line =
      if (full.length < 1900) full
      else
        s"""{"metric":"total","value":${num(total)},"unit":"sec","queries":{},"errors":{"_overflow":${jstr(s"line ${full.length} chars; ${okClean.size} ok, ${errMap.size} err — see bench_detail.json")}},"sf":${jstr(sfName)}}"""
    operators.Scratch.clear() // all consuming actions are done
    spark.stop()
    // Emitted LAST — after spark.stop() — so no shutdown logging lands
    // between the line and sbt's "[success]" trailer inside the driver's
    // 2000-char tail. build.sbt sets run/outputStrategy := StdoutOutput, so
    // this reaches the raw process stdout at column 0 (the default forked
    // strategy routed it through sbt's logger, whose "[info] " prefix is
    // what kept BENCH_r04 from parsing).
    println(line)
    System.out.flush()
  }
}
