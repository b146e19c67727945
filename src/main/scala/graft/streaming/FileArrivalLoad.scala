package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.pipeline.RfbTables

/** Streaming ingestion: corrected CSVs ARRIVING in a directory are routed
  * and appended to the lake incrementally — the reference's vigilante
  * daily poll (`READme.md:7-9`) re-expressed as a Structured Streaming file
  * source (SURVEY §2.2 streaming row). The source's checkpointed file index
  * plays the manifest's role: each file is processed exactly once across
  * restarts, so there is no hand-rolled resume logic at all.
  *
  * Routing runs IN-QUERY (SURVEY §2.1 #7's `input_file_name()` form): strip
  * the `__corrigido` marker, take the token after the last dot (whole name
  * when dotless), uppercase, then a literal CASE over the 10-entry routing
  * map — all codegen'd expressions, no UDF. Unroutable files get a null
  * table and are dropped, mirroring the batch pipeline's `ignorada`.
  *
  * Scale notes: at a real deployment the file source lists the watch
  * directory per trigger (use `maxFilesPerTrigger` to bound batch size);
  * the append is partitioned by destination table so each micro-batch
  * writes each table's files under its own directory.
  */
object FileArrivalLoad {

  /** In-query filename → table routing column ([[RfbTables.routing]]).
    * The suffix regex takes the last NON-EMPTY dot token (trailing dots
    * ignored) — exactly what the batch twin's `split('.')` does, which
    * drops trailing empty tokens; the old `([^.]*)$` matched the empty
    * string after a trailing dot and silently dropped a file the batch
    * path routes (r10 review).
    */
  def tableFor(fileName: Column): Column = {
    val base = regexp_replace(
      regexp_extract(fileName, "[^/]+$", 0), "__corrigido", "")
    val suffix = upper(regexp_extract(base, "([^.]+)\\.*$", 1))
    RfbTables.routing.foldLeft(lit(null).cast("string")) {
      case (acc, (suf, table)) => when(suffix === suf, lit(table)).otherwise(acc)
    }
  }

  /** Start the incremental loader: files under `watchDir` → `outDir/table=<t>/`.
    * `nCols` fixes the widest positional schema; narrower files leave the
    * tail columns null (PERMISSIVE, like the batch path).
    *
    * `outDir` must be OWNED by this sink from its first write: the file
    * sink's `_spark_metadata` log is the source of truth for readers, so
    * parquet files written to the same directory by anything else are
    * invisible to a batch parquet read of `outDir` once the log exists.
    */
  def start(
      spark: SparkSession,
      watchDir: String,
      outDir: String,
      checkpointDir: String,
      nCols: Int = 30,
      maxFilesPerTrigger: Int = 100): StreamingQuery = {
    val raw = spark.readStream
      .options(Map("sep" -> ";", "header" -> "false",
        "encoding" -> "UTF-8", "mode" -> "PERMISSIVE",
        // effectively-infinite maxFileAge: the default 7 DAYS silently
        // skips any file whose mtime trails the newest seen file by more
        // than a week — a corrected CSV copied in with its original
        // timestamp (cp -p / rsync -a) would be ingested ZERO times, in
        // the component whose contract is exactly-once. The checkpointed
        // file log is the dedup authority here, not mtime (r11 review).
        "maxFileAge" -> "36500d",
        "maxFilesPerTrigger" -> maxFilesPerTrigger.toString))
      .schema(RfbTables.rawSchema(nCols))
      .csv(watchDir)
    // the built-in file sink, NOT foreachBatch+append: the sink commits its
    // _spark_metadata log transactionally with the checkpoint, so a crash
    // between write and offset commit replays the batch WITHOUT duplicating
    // rows (a bare parquet append would be at-least-once)
    routed(raw)
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy("table")
      .start()
  }

  /** Attach the routing column and drop unroutable rows. */
  def routed(raw: DataFrame): DataFrame =
    raw.withColumn("table", tableFor(input_file_name()))
      .filter(col("table").isNotNull)
}
