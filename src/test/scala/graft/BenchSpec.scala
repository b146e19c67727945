package graft

import org.scalatest.funsuite.AnyFunSuite

/** Failure honesty of the bench harness: a deliberately broken query must
  * land in the error map — never as a timing — so a crash can't masquerade
  * as a fast run in BENCH_rN deltas.
  */
class BenchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a throwing query is reported as an error, not a timing") {
    val queries: Map[String, QuerySuite#Q] = Map(
      "good" -> ((s, _) => s.range(10).toDF("x")),
      "broken_plan" -> ((s, _) =>
        s.range(1).selectExpr("assert_true(id > 0, 'boom')")),
      "broken_build" -> ((_, _) => throw new RuntimeException("constructor")))
    val (ok, errs, _) = Bench.run(spark, TestSpark.sf0001, queries.toSeq)
    assert(ok.keySet === Set("good"))
    assert(ok("good") > 0.0)
    assert(errs.keySet === Set("broken_plan", "broken_build"))
    assert(errs("broken_build").contains("constructor"))
  }

  test("scratch-build seconds are attributed to the building query") {
    operators.MinHashDedup.drainBuildSeconds() // isolate from other specs
    val queries: Map[String, QuerySuite#Q] = Map(
      // q59 is a scratch builder (materializes its counts table); q01 is
      // scratch-free — builds must land on the former only
      "q59_equidepth_hist" -> SparkEntry.queries("q59_equidepth_hist"),
      "q01_pricing_summary" -> SparkEntry.queries("q01_pricing_summary"))
    operators.MinHashDedup.clearScratch(_.startsWith("q59_"))
    val (ok, _, builds) = Bench.run(spark, TestSpark.sf0001, queries.toSeq)
    assert(ok.size == 2)
    assert(builds.contains("q59_equidepth_hist"),
      s"expected q59 to carry its scratch build cost, got $builds")
    assert(!builds.contains("q01_pricing_summary"), builds.toString)
    assert(builds("q59_equidepth_hist") > 0.0 &&
      builds("q59_equidepth_hist") < ok("q59_equidepth_hist"))
  }

  test("drift retry fires on a synthetic drifted pass and stops when healed") {
    // the BENCH_r16 driver run, replayed: trio pass-1 12.2 s (drifted
    // host) vs pass-2 1.4 s → spread ~771% → the published min was backed
    // by ONE quiet pass; the self-healing bench must buy a third
    assert(Bench.shouldRetry(Seq(Some(12.2), Some(1.4))))
    // after the healing pass lands quiet, the best-two spread is the two
    // quiet passes (1.4 vs 1.5 ≈ 7%) — healed, no further retry wanted
    assert(Bench.bestTwoSpreadPct(Seq(12.2, 1.4, 1.5)).get < Bench.DriftRetryThresholdPct)
    assert(!Bench.shouldRetry(Seq(Some(12.2), Some(1.4), Some(1.5))))
    // quiet session: no retry in the first place
    assert(!Bench.shouldRetry(Seq(Some(1.37), Some(1.34))))
    // hard cap at MaxPasses even if the retry pass ALSO drifted — one
    // extra pass is the contract, not an unbounded chase
    assert(Bench.bestTwoSpreadPct(Seq(12.0, 1.4, 11.0)).get > Bench.DriftRetryThresholdPct)
    assert(!Bench.shouldRetry(Seq(Some(12.0), Some(1.4), Some(11.0))))
    // an errored/absent control query must never buy extra passes
    assert(!Bench.shouldRetry(Seq(Some(12.2), None)))
    assert(Bench.controlSum(Map("tx01_token_counts" -> 0.5,
      "tx02_quality" -> 0.25, "tx03_langid" -> 0.25)) === Some(1.0))
    assert(Bench.controlSum(Map("tx01_token_counts" -> 0.5,
      "tx02_quality" -> 0.25)) === None)
    // a degenerate non-positive control reading is UNCALIBRATED, never
    // "perfectly quiet" (r17 ADVICE): it must not read as spread 0 and
    // suppress the retry, and must not buy a retry either
    assert(Bench.controlSum(Map("tx01_token_counts" -> 0.0,
      "tx02_quality" -> 0.0, "tx03_langid" -> 0.0)) === None)
    assert(Bench.spreadPct(0.0, 1.4) === None)
    assert(Bench.bestTwoSpreadPct(Seq(0.0, 1.4)) === None)
    assert(Bench.bestTwoSpreadPct(Seq(1.4)) === None)
  }

  test("probe-then-fire decision and absolute level stamp (r17 verdict #1)") {
    // the BENCH_r17 driver artifact, replayed: first probe reads 1.99 s
    // against the 1.4 s quiet reference (ratio 1.42, whole-host-slow) —
    // wait and re-probe
    assert(Bench.shouldProbeAgain(Seq(1.99)))
    // a quiet first probe fires immediately: the builder's quiet readings
    // (~1.4) and the judge's quiet window (1.57, ratio 1.12) both pass
    assert(!Bench.shouldProbeAgain(Seq(1.45)))
    assert(!Bench.shouldProbeAgain(Seq(1.57)))
    // drifted → quiet across probes: the LATEST level decides
    assert(!Bench.shouldProbeAgain(Seq(1.99, 1.42)))
    assert(Bench.shouldProbeAgain(Seq(1.99, 2.05)))
    // bounded: after MaxProbes the run fires anyway (level_ratio then
    // flags the artifact) — never an unbounded wait
    assert(!Bench.shouldProbeAgain(Seq(1.99, 3.39, 2.11)))
    // degenerate zero reading is uncalibrated: stop probing, don't loop
    assert(!Bench.shouldProbeAgain(Seq(0.0)))
    // absolute level stamp: min-of-passes control sum vs quiet reference.
    // r17 contaminated artifact (best pass 1.99) self-reports ~1.37 on the
    // r19-re-pinned 1.45 reference; the judge's quiet re-run (1.57)
    // self-reports ~1.08; non-positive = uncalibrated
    assert(Bench.levelRatio(1.99).exists(r => math.abs(r - 1.99 / 1.45) < 0.01))
    assert(Bench.levelRatio(1.57).exists(_ < Bench.ProbeLevelThreshold))
    assert(Bench.levelRatio(0.0) === None)
  }

  test("re-pinned quiet reference separates the observed populations") {
    // every committed quiet control sum (r17–r19: 1.44–1.57) must read
    // quiet against the re-pinned reference, and every contaminated one
    // (r16/r17 driver passes) must still read whole-host-slow — the re-pin
    // (r18 verdict #2) removes the ~5–10% bias without blurring the split
    for (quiet <- Seq(1.44, 1.46, 1.49, 1.56, 1.57))
      assert(Bench.levelRatio(quiet).exists(_ < Bench.ProbeLevelThreshold),
        s"quiet reading $quiet must stay under the probe threshold")
    for (drifted <- Seq(1.99, 2.11, 3.39, 12.2))
      assert(Bench.levelRatio(drifted).exists(_ > Bench.ProbeLevelThreshold),
        s"drifted reading $drifted must stay over the probe threshold")
    // and a quiet window's ratio now reads ≈1.0, not a standing 1.05–1.12
    assert(Bench.levelRatio(1.46).exists(r => r > 0.95 && r < 1.05))
  }

  test("QUIET_BASELINE.md mirror line agrees with Bench.QuietTrioRefS") {
    // the reference lives in two places by design (the doc the judge reads,
    // the constant the artifact stamp uses); this pin makes a one-sided
    // edit a test failure instead of a silently biased level_ratio
    // (r18 verdict #2: "a spec should pin they agree")
    val md = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("QUIET_BASELINE.md")),
      java.nio.charset.StandardCharsets.UTF_8)
    val pin = """QuietTrioRefS = ([0-9.]+)""".r
    val found = pin.findAllMatchIn(md).map(_.group(1)).toSeq
    assert(found.nonEmpty, "QUIET_BASELINE.md lost its machine-readable " +
      "mirror line `QuietTrioRefS = <seconds>`")
    assert(found === Seq(Bench.QuietTrioRefS.toString),
      s"QUIET_BASELINE.md pins $found but Bench.QuietTrioRefS is " +
        s"${Bench.QuietTrioRefS} — update both together")
  }
}
