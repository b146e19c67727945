package graft.streaming

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QuerySuite, Tables}
import graft.operators.TextOps

/** Streaming twin of the tx07 corpus-cleaning pipeline: the SAME row-local
  * gate expressions ([[graft.operators.TextOps.scoredEnglish]] — shared
  * code, not a re-implementation), then state-store dedup on the document
  * fingerprint. This is how a training-data pipeline ingests a continuous
  * crawl: filter + fingerprint per micro-batch (narrow), dedup against
  * all-history keys in the state store.
  *
  * Output is keys-only (st03's contract): WHICH physical row survives a
  * streaming dedup depends on arrival order, so only the deterministic key
  * set is emitted — equal to the batch DISTINCT the oracle runs.
  *
  * Scale notes: at a real ingest rate the fingerprint state store is the
  * bounded structure (one key per distinct cleaned doc); with an
  * event-time column the same plan takes `dropDuplicatesWithinWatermark`
  * to bound state by time instead of corpus size.
  */
object CorpusStream extends QuerySuite {
  val queries: Map[String, Q] = ListMap(
    // Rides EventsStream's shared drive-and-stop harness (cloned session,
    // unique sink, stop-in-finally) with the DOCUMENTS source swapped in —
    // layout-aware via Tables.streamRaw (single file OR directory of part
    // files; the old glob recipe silently streamed zero rows from a
    // directory table — r11 10× rehearsal).
    "st05_stream_clean_corpus" -> ((s, dir) => {
      // emit-on-arrival dedup: the trailing no-data batch is pure
      // machinery cost here (see EventsStream.SkipNoDataBatch)
      EventsStream.runStreamFrom(s, "st05_mem", "append",
        EventsStream.SkipNoDataBatch) { ss =>
        Tables.streamRaw(ss, dir, "documents", Tables(ss, dir, "documents").schema)
      } { stream =>
        TextOps.scoredEnglish(stream).dropDuplicates("fp").select(col("fp"))
      }.orderBy("fp")
    }),
  )

  val oracle: Map[String, String] = ListMap(
    // Streaming gate + state dedup == batch DISTINCT over the same gates.
    "st05_stream_clean_corpus" ->
      s"""WITH scored AS (${TextOps.scoredCteSql})
         |SELECT DISTINCT md5(regexp_replace(lower(text), '[ \t\n\f\r]+', ' ', 'g')) AS fp
         |FROM scored
         |WHERE pred_lang = 'en' AND quality_score >= 0.12
         |ORDER BY fp""".stripMargin,
  )
}
