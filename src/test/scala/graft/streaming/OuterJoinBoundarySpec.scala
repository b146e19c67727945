package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

case class JEv(event_id: Long, user_id: Long, ts: Timestamp,
  event_type: String)

/** Pins the outer-join closure boundary at EXACT watermark equality for
  * st11/st12's interval join: the oracles state strict predicates
  * (pts < wm, sts + 1 h < wm), and before this spec the `<`-vs-`<=`
  * behavior of Spark's state eviction at equality was only pinned
  * empirically at the gate scales — a dataset with an event exactly ON the
  * final watermark could have diverged silently (round-4 ADVICE).
  *
  * Fixture: final max event time on both sides is 11:00, so the min-policy
  * watermark lands exactly on 10:50. An unmatched purchase AT 10:50 (and,
  * for the full outer, an unmatched signup whose sts + 1 h is exactly
  * 10:50) sits precisely on the boundary; one strictly inside it must
  * emit, the boundary row must stay withheld — Spark evicts state when the
  * watermark STRICTLY exceeds the closure horizon, matching the oracle.
  */
class OuterJoinBoundarySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.streamingSession()

  private def t(s: String) = Timestamp.valueOf(s)

  private def drive(joinType: String, sink: String,
      events: Seq[JEv]): Set[(Option[Long], Option[Long])] = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[JEv]
    val q = EventsStream.intervalJoin(ms.toDF(), joinType)
      .select("purchase_id", "signup_id")
      .writeStream.outputMode("append")
      .option("checkpointLocation", TestSpark.checkpointDir())
      .format("memory").queryName(sink).start()
    try {
      ms.addData(events)
      q.processAllAvailable()
    } finally q.stop()
    spark.table(sink).collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
  }

  // watermark fuel: both sides' max ts = 11:00 → wm = 10:50 exactly
  private val fuel = Seq(
    JEv(98L, 98L, t("2024-01-01 11:00:00"), "purchase"),
    JEv(99L, 99L, t("2024-01-01 11:00:00"), "signup"))

  // matched pair (user 5): emits eagerly in every join type
  private val matched = Seq(
    JEv(10L, 5L, t("2024-01-01 10:30:00"), "purchase"),
    JEv(11L, 5L, t("2024-01-01 10:00:00"), "signup"))

  test("left outer: purchase exactly ON the watermark stays withheld") {
    val got = drive("left_outer", "oj_left", fuel ++ matched ++ Seq(
      // strictly inside the horizon (10:00 < 10:50): must emit null-padded
      JEv(1L, 1L, t("2024-01-01 10:00:00"), "purchase"),
      // exactly ON the watermark (10:50): withheld (strict <)
      JEv(2L, 2L, t("2024-01-01 10:50:00"), "purchase")))
    assert(got == Set(
      (Some(10L), Some(11L)), // the eager inner match
      (Some(1L), None)))      // closed unmatched purchase; NOT id 2
  }

  test("full outer: both sides' boundary rows stay withheld at equality") {
    val got = drive("full_outer", "oj_full", fuel ++ matched ++ Seq(
      JEv(1L, 1L, t("2024-01-01 10:00:00"), "purchase"), // closes
      JEv(2L, 2L, t("2024-01-01 10:50:00"), "purchase"), // ON wm: withheld
      // signup horizon is sts + 1 h: 09:40 + 1 h = 10:40 < 10:50 → closes
      JEv(3L, 3L, t("2024-01-01 09:40:00"), "signup"),
      // 09:50 + 1 h = 10:50 exactly ON wm → withheld
      JEv(4L, 4L, t("2024-01-01 09:50:00"), "signup")))
    assert(got == Set(
      (Some(10L), Some(11L)),
      (Some(1L), None),       // closed purchase
      (None, Some(3L))))      // closed signup; NOT ids 2 or 4
  }
}
