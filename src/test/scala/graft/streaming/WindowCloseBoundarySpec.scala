package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Pins the append-mode window-close boundary at EXACT watermark
  * equality for st13 (session_window) and st15 (chained window-on-window
  * daily rollup) — and documents the asymmetry this fixture DISCOVERED:
  * windowed-aggregate emission is INCLUSIVE (a window whose end sits
  * exactly ON the watermark emits, `end <= wm`), while stream-stream
  * JOIN state eviction is STRICT (OuterJoinBoundarySpec: a row exactly
  * ON the watermark stays withheld). The st13/st15 oracles state
  * `end <= wm` accordingly; before this spec they stated `<`, which the
  * gate scales could never distinguish (no session/day end lands exactly
  * on max ts − 10 min there) — precisely the silent-divergence class the
  * round-4 ADVICE flagged for st11/st12.
  */
class WindowCloseBoundarySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.streamingSession()

  private def t(s: String) = Timestamp.valueOf(s)

  test("session_window: session whose gap-extended end is ON the watermark EMITS (inclusive close)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[JEv]
    val q = ms.toDF().withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("n"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", TestSpark.checkpointDir())
      .format("memory").queryName("swb_mem").start()
    try {
      ms.addData(Seq(
        // watermark fuel: max ts 12:00 → wm = 11:50 exactly; the fuel's
        // own session (end 12:30 > wm) must stay withheld
        JEv(99L, 99L, t("2024-01-01 12:00:00"), "view"),
        // user 1: session end 11:19 + 30 min = 11:49 < 11:50 → emits
        JEv(1L, 1L, t("2024-01-01 11:19:00"), "view"),
        // user 2: session end 11:20 + 30 min = 11:50 == wm → emits too
        // (inclusive); a strict close would have withheld it
        JEv(2L, 2L, t("2024-01-01 11:20:00"), "view"),
        // user 3: end 11:21 + 30 min = 11:51 > wm → withheld
        JEv(3L, 3L, t("2024-01-01 11:21:00"), "view")))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("swb_mem").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 1L), (2L, 1L)),
      s"expected users 1 AND 2 (boundary-inclusive), not 3/99: $got")
  }

  test("chained daily rollup: day whose end is ON the watermark EMITS (inclusive close)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[JEv]
    val q = ms.toDF().withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n_hour"))
      .groupBy(window(col("window"), "1 day"), col("user_id"))
      .agg(sum(col("n_hour")).as("n"))
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("user_id"), col("n"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", TestSpark.checkpointDir())
      .format("memory").queryName("cwb_mem").start()
    try {
      ms.addData(Seq(
        // fuel: max ts Jan 10 00:10 → wm = Jan 10 00:00 exactly; the
        // fuel's own day (end Jan 11 > wm) must stay withheld
        JEv(99L, 99L, t("2024-01-10 00:10:00"), "view"),
        // user 1 on Jan 8: day end Jan 9 00:00 < wm → emits (n = 2)
        JEv(1L, 1L, t("2024-01-08 08:00:00"), "view"),
        JEv(2L, 1L, t("2024-01-08 09:30:00"), "view"),
        // user 2 on Jan 9 morning (its HOUR closes well inside the wm,
        // so only the daily layer decides): day end Jan 10 00:00 == wm
        // → emits (inclusive); strict close would have withheld it
        JEv(3L, 2L, t("2024-01-09 11:00:00"), "view")))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("cwb_mem").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("2024-01-08", 1L, 2L), ("2024-01-09", 2L, 1L)),
      s"expected Jan 8 AND boundary Jan 9, not the fuel's Jan 10: $got")
  }

  test("flatMapGroupsWithState timeout exactly ON the watermark does NOT fire (strict, like join eviction)") {
    // the third stateful mechanism, third convention check: st07's
    // event-time TIMEOUT (set at session end + gap) fires only when the
    // watermark strictly exceeds it — the join-side convention, NOT the
    // window-aggregate inclusive one. st07's oracle states `en + gap < w`
    // accordingly.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Sessionize.Event]
    val q = Sessionize.sessionize(ms.toDS())
      .select(col("user_id"), col("n_events"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", TestSpark.checkpointDir())
      .format("memory").queryName("fmb_mem").start()
    try {
      ms.addData(Seq(
        // fuel: max ts 12:00 → wm = 11:50; its own timeout (12:30) open
        Sessionize.Event(99L, t("2024-01-01 12:00:00"), 1.0),
        // user 1: timeout 11:19 + 30 min = 11:49 < wm → fires, emits
        Sessionize.Event(1L, t("2024-01-01 11:19:00"), 1.0),
        // user 2: timeout 11:20 + 30 min = 11:50 == wm → must NOT fire
        Sessionize.Event(2L, t("2024-01-01 11:20:00"), 1.0)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("fmb_mem").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 1L)),
      s"expected only user 1 (strict timeout), got $got")
  }
}
