package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.streaming.Sessionize.Event

class SessionizeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.streamingSession()

  private def t(s: String) = Timestamp.valueOf(s)

  test("stateful sessionization: gap split, watermark-timeout emission") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = Sessionize.sessionize(ms.toDS())
      .writeStream.outputMode("append")
      .option("checkpointLocation", TestSpark.checkpointDir())
      .format("memory").queryName("sess_test").start()
    try {
      // user 1: two bursts 40 min apart (→ 2 sessions); user 2: one event
      ms.addData(
        Event(1L, t("2024-01-01 10:00:00"), 1.0),
        Event(1L, t("2024-01-01 10:10:00"), 2.0),
        Event(1L, t("2024-01-01 10:50:00"), 4.0),
        Event(2L, t("2024-01-01 10:05:00"), 8.0))
      q.processAllAvailable()
      // ONLY user 2's session (end 10:05, close 10:35) is strictly past
      // the watermark (10:40 = max event 10:50 − 10 min). User 1's first
      // session is gap-SPLIT in state but NOT emitted: its close (10:10 +
      // 30 min = 10:40) equals the watermark, and emission is strictly
      // watermark-gated — never successor-prompt (r15: prompt emission
      // splits sessions a late-but-admitted bridge event would weld)
      val afterBatch1 = spark.table("sess_test").as[Sessionize.Session]
        .collect().map(s => (s.user_id, s.n_events, s.session_value)).toSet
      assert(afterBatch1 == Set((2L, 1L, 8.0)))

      // advance watermark far past every open session's end+gap
      ms.addData(Event(99L, t("2024-01-01 13:00:00"), 0.0))
      q.processAllAvailable()
      val after = spark.table("sess_test").as[Sessionize.Session]
        .collect().map(s => (s.user_id, s.n_events, s.session_value)).toSet
      assert(after == Set((1L, 2L, 3.0), (1L, 1L, 4.0), (2L, 1L, 8.0)))

      // late event behind the watermark never reopens a closed session
      ms.addData(Event(1L, t("2024-01-01 10:20:00"), 100.0))
      q.processAllAvailable()
      val afterLate = spark.table("sess_test").as[Sessionize.Session]
        .collect().map(s => (s.user_id, s.n_events, s.session_value)).toSet
      assert(afterLate == after)
    } finally q.stop()
  }

  test("a late bridge event WELDS an already-split pair into the batch session") {
    // The r15 finding: a successor 31 min after the predecessor used to
    // close-and-emit the predecessor immediately; a late-but-admitted
    // event between them (here 11:25, watermark 11:21:01) then bridged
    // the two in batch semantics but the stream had already emitted the
    // first half — two sessions where q29 computes one. Emission is now
    // watermark-gated with list state, so the bridge welds in state and
    // exactly ONE session comes out.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = Sessionize.sessionize(ms.toDS())
      .writeStream.outputMode("append")
      .option("checkpointLocation", TestSpark.checkpointDir())
      .format("memory").queryName("sess_weld").start()
    try {
      ms.addData(Event(1L, t("2024-01-01 11:00:00"), 1.0))
      q.processAllAvailable() // watermark 10:50
      ms.addData(Event(1L, t("2024-01-01 11:31:01"), 2.0)) // gap-splits
      q.processAllAvailable() // watermark 11:21:01; nothing emitted yet
      assert(spark.table("sess_weld").collect().isEmpty,
        "premature emission: the split pair must stay in state")
      ms.addData(Event(1L, t("2024-01-01 11:25:00"), 4.0)) // admitted bridge
      q.processAllAvailable()
      ms.addData(Event(99L, t("2024-01-01 15:00:00"), 0.0)) // close all
      q.processAllAvailable()
      val got = spark.table("sess_weld").as[Sessionize.Session]
        .collect().filter(_.user_id == 1L)
        .map(s => (s.session_start.toString, s.session_end.toString,
          s.n_events, s.session_value))
      assert(got.toSeq === Seq(
        ("2024-01-01 11:00:00.0", "2024-01-01 11:31:01.0", 3L, 7.0)),
        s"expected ONE welded session, got: ${got.mkString(", ")}")
    } finally q.stop()
  }

  test("timeout boundary: a session whose end+gap EQUALS the watermark stays open") {
    // st07's oracle uses STRICT closure (end + gap < watermark); this pins
    // Spark's event-time-timeout semantics to that predicate so an engine
    // upgrade that flips the boundary fails loudly here, not as a silent
    // oracle drift. Sessionize gap = 30 min, watermark delay = 10 min.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = Sessionize.sessionize(ms.toDS())
      .writeStream.outputMode("append")
      .option("checkpointLocation", TestSpark.checkpointDir())
      .format("memory").queryName("sess_boundary").start()
    try {
      ms.addData(Event(1L, t("2024-01-01 10:00:00"), 1.0))
      q.processAllAvailable()
      // watermark = 10:40:00 - 10 min = 10:30:00 == session end (10:00) +
      // 30-min gap exactly → NOT timed out (strictly-greater semantics)
      ms.addData(Event(99L, t("2024-01-01 10:40:00"), 0.0))
      q.processAllAvailable()
      val atBoundary = spark.table("sess_boundary").collect()
      assert(atBoundary.isEmpty,
        s"boundary-equal session closed early: ${atBoundary.mkString}")
      // one second past the boundary → closed
      ms.addData(Event(99L, t("2024-01-01 10:40:01"), 0.0))
      q.processAllAvailable()
      val past = spark.table("sess_boundary").as[Sessionize.Session].collect()
      assert(past.map(s => (s.user_id, s.n_events)).toSet == Set((1L, 1L)))
    } finally q.stop()
  }

  test("late event within the watermark extends the session START backward") {
    // the old merge kept start frozen at the first-seen event, so a
    // late-but-admitted earlier event produced a session starting AFTER
    // one of its own events — diverging from the batch sort (r10 review)
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = Sessionize.sessionize(ms.toDS())
      .writeStream.outputMode("append")
      .option("checkpointLocation", TestSpark.checkpointDir())
      .format("memory").queryName("sess_late").start()
    try {
      ms.addData(Event(1L, t("2024-01-01 12:00:00"), 1.0))
      q.processAllAvailable() // watermark 11:50
      ms.addData(Event(1L, t("2024-01-01 11:55:00"), 2.0)) // late, admitted
      q.processAllAvailable()
      ms.addData(Event(99L, t("2024-01-01 15:00:00"), 0.0)) // close all
      q.processAllAvailable()
      val got = spark.table("sess_late").as[Sessionize.Session]
        .collect().filter(_.user_id == 1L)
        .map(s => (s.session_start.toString, s.session_end.toString,
          s.n_events, s.session_value))
      assert(got.toSeq ===
        Seq(("2024-01-01 11:55:00.0", "2024-01-01 12:00:00.0", 2L, 3.0)))
    } finally q.stop()
  }

  test("session_value rounds per event like SUM(CAST(value AS DECIMAL(12,2)))") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = Sessionize.sessionize(ms.toDS())
      .writeStream.outputMode("append")
      .option("checkpointLocation", TestSpark.checkpointDir())
      .format("memory").queryName("sess_round").start()
    try {
      // 0.125 -> 0.13 (HALF_UP per event); 0.004+0.004 -> 0.00+0.00, not
      // rint(0.8)/100 = 0.01 (the old accumulate-then-round-half-even)
      ms.addData(Event(1L, t("2024-01-01 10:00:00"), 0.125),
        Event(2L, t("2024-01-01 10:00:00"), 0.004),
        Event(2L, t("2024-01-01 10:00:01"), 0.004))
      q.processAllAvailable()
      ms.addData(Event(99L, t("2024-01-01 13:00:00"), 0.0))
      q.processAllAvailable()
      val got = spark.table("sess_round").as[Sessionize.Session]
        .collect().map(s => s.user_id -> s.session_value).toMap
      assert(got(1L) === 0.13 && got(2L) === 0.0)
    } finally q.stop()
  }

  test("insert keeps the open list ascending by end — the sweep's early-exit invariant") {
    // the close sweep is a `span` prefix take (r15 sweep-cost note): it is
    // only correct if insert maintains end-ascending order through both
    // plain inserts and transitive welds. Violating order would silently
    // LEAK a closable session past the watermark (kept open forever), so
    // the invariant gets its own pin.
    def m(n: Int): Long = n * 60000L
    val empty = Seq.empty[Sessionize.SessionState]
    // three disjoint single-event sessions arriving out of end order
    val l1 = Seq(m(150), m(0), m(100)).foldLeft(empty)((l, t) =>
      Sessionize.insert(l, t, 1L))
    assert(l1.map(_.end) === Seq(m(0), m(100), m(150)))
    // an in-gap event extends the middle session; order must hold
    val l2 = Sessionize.insert(l1, m(115), 1L)
    assert(l2.map(_.end) === Seq(m(0), m(115), m(150)))
    // a bridge within the gap of BOTH middle and last welds them into ONE
    // (the transitive rule) and the merged session lands in order
    val l3 = Sessionize.insert(l2, m(125), 1L)
    assert(l3.map(s => (s.start, s.end, s.n)) ===
      Seq((m(0), m(0), 1L), (m(100), m(150), 4L)))
  }

  test("st07 emits exactly the batch q29 sessions the final watermark closed") {
    import org.apache.spark.sql.functions._
    val sf = TestSpark.sf0001
    val streamed = EventsStream.queries("st07_stream_sessionize")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getDouble(4)))
      .toSet
    val batch = graft.operators.Relational2
      .queries("q29_sessionize")(spark, sf)
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("session_value"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getDouble(4)))
      .toSet
    // the watermark the stream ends with: max event time − 10 min delay
    val maxTs = graft.Tables(spark, sf, "events")
      .agg(max(unix_timestamp(col("ts")))).collect()(0).getLong(0)
    val closed = batch.filter { case (_, _, end, _, _) =>
      java.sql.Timestamp.valueOf(end).getTime / 1000 + 1800 < maxTs - 600
    }
    assert(streamed == closed,
      s"streamed ${streamed.size} vs closed-by-watermark ${closed.size}")
    // the withheld tail is small but nonempty: open sessions stay in state
    assert(batch.size > streamed.size)
  }
}
