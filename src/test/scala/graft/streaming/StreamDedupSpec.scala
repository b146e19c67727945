package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

case class KeyedEv(ts: Timestamp, key: String)

/** Streaming dedup semantics (SURVEY §2.2 streaming row): unbounded
  * `dropDuplicates` holds every seen key forever;
  * `dropDuplicatesWithinWatermark` keeps a key's state only until the
  * watermark passes `ts(key) + delay` — bounded state, so a key can
  * legitimately re-emit after its window expires. At 100 TB/day the
  * bounded variant is the only deployable one.
  */
class StreamDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.streamingSession()

  private def t(s: String) = Timestamp.valueOf(s)

  test("dropDuplicatesWithinWatermark: dups inside the window drop, " +
    "keys re-admit after state expiry") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[KeyedEv]
    val q = ms.toDF()
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("key")
      .writeStream.outputMode("append")
      .option("checkpointLocation", TestSpark.checkpointDir())
      .format("memory").queryName("sdw_test").start()
    try {
      // A appears twice within the watermark window → one survivor
      ms.addData(
        KeyedEv(t("2024-01-01 10:00:00"), "A"),
        KeyedEv(t("2024-01-01 10:01:00"), "A"))
      q.processAllAvailable()
      assert(spark.table("sdw_test").count() === 1)

      // advance the watermark far past A's expiry (10:00 + 30 min)
      ms.addData(KeyedEv(t("2024-01-01 12:00:00"), "B"))
      q.processAllAvailable()

      // A re-arrives after its dedup state was evicted → emitted again
      ms.addData(KeyedEv(t("2024-01-01 12:01:00"), "A"))
      q.processAllAvailable()
      val keys = spark.table("sdw_test").select("key")
        .as[String].collect().toSeq
      assert(keys.count(_ == "A") === 2)
      assert(keys.count(_ == "B") === 1)
    } finally q.stop()
  }
}
