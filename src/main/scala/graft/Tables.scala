package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the harness testdata tables (TESTDATA.md).
  *
  * All tables are single parquet files under `sfDir`. At 100 TB these would be
  * partitioned directories; nothing here assumes a single file — every read
  * goes through [[ParquetRead]], which takes a file or a dir of part files
  * alike and takes the schema from one footer read on the driver, so
  * building a table's frame launches no Spark job. Every downstream
  * operator relies on Catalyst pushdown (filters/column pruning reach the
  * scan) rather than on data being small.
  */
object Tables {
  val tpch: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val extension: Seq[String] = Seq("events", "documents", "embeddings")
  val all: Seq[String] = tpch ++ extension

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir)
    else ParquetRead(spark, s"$sfDir/$name.parquet")

  /** `events.parquet` carries a nanosecond-precision timestamp (INT64
    * TIMESTAMP(NANOS)), which Parquet readers expose inconsistently. If Spark
    * surfaces it as a plain LONG (legacy nanosAsLong mode), convert to a
    * microsecond timestamp so downstream date functions behave identically to
    * the DuckDB oracle (which also works at µs resolution).
    */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    normalizeEvents(rawEvents(spark, sfDir))

  /** Raw events read; ts may surface as LONG nanos (legacy mode). The
    * legacy conf is SCOPED to this read — the schema is resolved eagerly
    * inside [[ParquetRead]] (whose footer conversion reads the flag exactly
    * as Spark's own inference does), so restoring the prior value afterwards
    * keeps nanos-as-long semantics from leaking to every later parquet
    * read in the caller's session (r10 review; the CorpusStream
    * convention).
    */
  def rawEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = try Some(spark.conf.get(key)) catch { case _: Throwable => None }
    try {
      try spark.conf.set(key, "true") catch { case _: Throwable => () }
      ParquetRead(spark, s"$sfDir/events.parquet")
    } finally {
      try prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      catch { case _: Throwable => () }
    }
  }

  /** Streaming read of `$dir/$name.parquet` that works in BOTH layouts the
    * batch reader accepts: a single FILE (the fixture layout) and a
    * DIRECTORY of part files (the only layout at production scale). The
    * old recipe — stream `dir` with a `pathGlobFilter` on the table name —
    * matched only the file form, so a directory table streamed ZERO rows
    * silently (every streaming query in the r11 10× rehearsal "finished"
    * in 0.2 s on an empty stream); the direct-path form conversely rejects
    * a bare file ("Option 'basePath' must be a directory"). One probe picks
    * the right form; StreamingDirSpec pins both legs.
    */
  def streamRaw(ss: SparkSession, dir: String, name: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val target = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val fs = target.getFileSystem(ss.sparkContext.hadoopConfiguration)
    val reader = ss.readStream.schema(schema)
    // A table that does not exist YET is a legitimate streaming start —
    // the query begins empty and picks up rows when the first file lands
    // (the file-source contract). The glob form tolerates an absent match;
    // the direct-path probe would throw at plan time, so it falls back
    // (r11 ADVICE). A table that first materializes as a DIRECTORY must
    // not reuse this stream (the glob form won't see inside it) — restart
    // the query once the layout is known; StreamingDirSpec pins all legs.
    val status =
      try Some(fs.getFileStatus(target))
      catch { case _: java.io.FileNotFoundException => None }
    status match {
      case Some(st) if st.isDirectory => reader.parquet(target.toString)
      case other =>
        if (other.isEmpty)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"streaming source $target does not exist yet; starting in the " +
              "glob form, which sees a later SINGLE-FILE table but NOT a " +
              "table that materializes as a directory — restart the query " +
              "if the table lands as a directory of part files")
        reader.option("pathGlobFilter", s"$name.parquet").parquet(dir)
    }
  }

  /** Normalize a raw events frame: LONG-nanos or TIMESTAMP_NTZ ts → µs
    * timestamp. The fixture has carried `ts` as INT64 nanos (legacy mode →
    * LONG) and as `timestamp[us]` without timezone (Spark 4 → TIMESTAMP_NTZ);
    * both normalize to TimestampType. The session timezone is pinned UTC
    * (build.sbt), so the NTZ→timestamp cast is wall-clock-preserving and
    * keeps the oracle-verified semantics identical across fixture vintages.
    * Watermarks (`withWatermark`) require TimestampType — NTZ is rejected.
    */
  def normalizeEvents(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType =>
        // FLOOR division, exactly in integers: `ts div 1000` truncates
        // toward zero, so a pre-epoch instant (−1500 ns) rounded UP onto
        // µs −1 instead of flooring onto µs −2 — the microsecond that
        // actually contains it (r11 review; TablesNanosSpec). pmod keeps
        // the arithmetic exact at any magnitude where a double detour
        // would lose sub-µs bits.
        df.withColumn("ts",
          timestamp_micros(expr("(ts - pmod(ts, 1000)) div 1000")))
      case _: TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
}
