package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

case class Ev(ts: Timestamp, event_type: String, value: Double)

/** Watermark + append-mode semantics: windows emit once the watermark passes
  * their end, and late data behind the watermark is dropped (SURVEY §2.2
  * streaming row — the late-data-drop contract).
  */
class WatermarkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.streamingSession()

  private def t(s: String) = Timestamp.valueOf(s)

  test("append mode emits closed windows; late rows are dropped") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = EventsStream.hourlyAgg(ms.toDF())
      .writeStream.outputMode("append")
      .option("checkpointLocation", TestSpark.checkpointDir())
      .format("memory").queryName("wm_test").start()
    try {
      // open windows, nothing emitted yet (watermark = max(ts) - 10 min)
      ms.addData(
        Ev(t("2024-01-01 10:05:00"), "a", 1.0),
        Ev(t("2024-01-01 10:20:00"), "a", 2.0),
        Ev(t("2024-01-01 11:05:00"), "a", 4.0))
      q.processAllAvailable()
      assert(spark.table("wm_test").count() == 0)

      // watermark jumps to 12:20 → [10:00,11:00) and [11:00,12:00) close
      ms.addData(Ev(t("2024-01-01 12:30:00"), "a", 8.0))
      q.processAllAvailable()
      val emitted = spark.table("wm_test")
        .select("window.start", "n", "sum_value").collect()
        .map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getDouble(2)))
        .toSet
      assert(emitted == Set(
        ("2024-01-01 10:00:00.0", 2L, 3.0),
        ("2024-01-01 11:00:00.0", 1L, 4.0)))

      // a row at 10:40 is behind the watermark → dropped, no re-emission
      ms.addData(Ev(t("2024-01-01 10:40:00"), "a", 100.0))
      q.processAllAvailable()
      val after = spark.table("wm_test")
        .select("window.start", "n", "sum_value").collect()
        .map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getDouble(2)))
        .toSet
      assert(after == emitted)
    } finally q.stop()
  }
}
