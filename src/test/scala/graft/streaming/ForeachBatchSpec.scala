package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.streaming.Sessionize.Event

/** foreachBatch sink: per-micro-batch idempotent parquet writes keyed by
  * batchId — the streaming analogue of the pipeline manifest's exactly-once
  * bookkeeping (SURVEY §1.3 manifest row). Replaying a batch id must not
  * duplicate data.
  */
class ForeachBatchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.streamingSession()

  private def t(s: String) = Timestamp.valueOf(s)

  test("foreachBatch writes batch-id-keyed partitions; replay is idempotent") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val out = Files.createTempDirectory("fb-out").toString
    val ms = MemoryStream[Event]

    def writeBatch(df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
        batchId: Long): Unit =
      // overwrite-by-batch-id: a retried/replayed batch lands in the same
      // directory, so downstream reads never see duplicates
      df.write.mode("overwrite").parquet(s"$out/batch_id=$batchId")

    val q = ms.toDF()
      .writeStream.foreachBatch(writeBatch _)
      .option("checkpointLocation", TestSpark.checkpointDir())
      .start()
    try {
      ms.addData(Event(1L, t("2024-01-01 10:00:00"), 1.0),
        Event(2L, t("2024-01-01 10:01:00"), 2.0))
      q.processAllAvailable()
      ms.addData(Event(3L, t("2024-01-01 10:02:00"), 3.0))
      q.processAllAvailable()

      val all = spark.read.parquet(out)
      assert(all.count() == 3)
      // simulate a batch replay: rewriting batch 0's directory with the
      // same content must keep the total stable (materialize first — a lazy
      // read from the path being overwritten would race its own deletion)
      val batch0Rows = spark.read.parquet(s"$out/batch_id=0")
        .select("user_id", "ts", "value")
        .as[(Long, Timestamp, Double)].collect().toSeq
      batch0Rows.toDF("user_id", "ts", "value")
        .write.mode("overwrite").parquet(s"$out/batch_id=0")
      assert(spark.read.parquet(out).count() == 3)
    } finally q.stop()
  }
}
