package graft.pipeline

import java.sql.DriverManager
import java.util.Properties

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Where a routed table lands. The reference's sink is a Postgres schema per
  * month written with truncate-then-append (`main.py:177,198-216`); the lake
  * deployment uses snapshot-partitioned parquet instead. Both honor the same
  * contract: [[overwrite]] is a FULL REFRESH of one table for one snapshot,
  * and [[readBack]] re-reads what actually landed so the pipeline's
  * count-audit gate (`main.py:207-216`) always checks the sink, never a
  * cached plan.
  */
trait TableSink {
  def overwrite(df: DataFrame, table: String, refMonth: String): Unit
  def readBack(spark: SparkSession, table: String, refMonth: String): DataFrame

  /** Rows the sink holds for (table, refMonth) now — the loaded side of the
    * pipeline's count audit. Counts what [[readBack]] reads, never the
    * frame that was written.
    */
  def loadedRows(spark: SparkSession, table: String, refMonth: String): Long =
    readBack(spark, table, refMonth).count()

  /** Whether [[overwrite]] runs as a Dataset action that materializes
    * `observe()` metrics attached to `df`. True for file-format writers;
    * sinks that execute through a bare RDD job (Spark's V1 JDBC writer does
    * `rdd.foreachPartition`) must return false so the pipeline audits the
    * read-back instead of trusting never-populated write-side metrics.
    */
  def observesWrites: Boolean = true

  /** How many tables' [[overwrite]]s may run at once: the pipeline loads a
    * month's table groups on a small driver pool, bounded by this. A sink
    * whose fan-in bound holds per write returns 1 so it stays the whole
    * load's bound.
    */
  def concurrentOverwrites: Int = Int.MaxValue
}

/** Lake sink: one parquet directory per (table, snapshot) — the side-by-side
  * time-travel layout of the reference's per-month DB schemas
  * (`main.py:177`), with the atomic-overwrite upgrade documented in
  * [[RfbPipeline]]. The swap is atomic where rename is atomic (local
  * filesystem, HDFS), and not on an object store, where rename is a copy.
  */
class ParquetSink(outDir: String) extends TableSink {
  private val Success = "_SUCCESS"
  private val StagingPrefix = "_staging_"
  private val BackupPrefix = "_backup_"

  private def path(table: String, refMonth: String, prefix: String = "") =
    new org.apache.hadoop.fs.Path(s"$outDir/$table/${prefix}ref_month=$refMonth")

  /** Staging-then-swap, NOT SaveMode.Overwrite on the final path: a plain
    * Overwrite deletes the existing partition before writing, so a
    * mid-write failure destroys the previously-loaded snapshot — the exact
    * reference flaw (truncate-then-append leaving a gutted table,
    * `main.py:198-216`) the pipeline doc says this sink fixes. The full
    * write lands in a `_staging` sibling (underscore-prefixed: invisible
    * to any parquet reader that scans the table dir), then the swap is
    * rename+rename — old data moves ASIDE (`_backup`), never away: a crash
    * at ANY point leaves either the old snapshot readable or a COMPLETE
    * staging dir that [[readBack]] (and the next overwrite) promotes. The
    * previous delete-then-rename shape had a window where the old data was
    * gone and the new still hidden, with no recovery path — the r9 ADVICE
    * finding.
    */
  override def overwrite(df: DataFrame, table: String, refMonth: String): Unit = {
    val finalPath = path(table, refMonth)
    val staging = path(table, refMonth, StagingPrefix)
    val backup = path(table, refMonth, BackupPrefix)
    val fs = finalPath.getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    df.write.mode(SaveMode.Overwrite).parquet(staging.toString)
    fs.delete(backup, true) // stale backup from an earlier crashed swap
    if (fs.exists(finalPath) && !fs.rename(finalPath, backup))
      throw new java.io.IOException(s"rename $finalPath -> $backup failed")
    promoteStaging(fs, staging, finalPath, backup)
  }

  /** The swap's second half: staging → final, backup dropped on success.
    * Package-private so the reader-promotion race below is deterministically
    * testable (the live window between the two renames is microseconds).
    */
  private[pipeline] def promoteStaging(fs: org.apache.hadoop.fs.FileSystem,
      staging: org.apache.hadoop.fs.Path,
      finalPath: org.apache.hadoop.fs.Path,
      backup: org.apache.hadoop.fs.Path): Unit = {
    // rename with a vanished source RETURNS FALSE on HDFS but THROWS
    // FileNotFoundException on the local/checksum filesystem (its fallback
    // copy path stats the source) — the race below must catch both forms
    val renamed =
      try fs.rename(staging, finalPath)
      catch { case _: java.io.FileNotFoundException => false }
    if (!renamed) {
      // a CONCURRENT readBack can win this rename: its crash-recovery leg
      // saw the swap window (final moved aside, staging complete) and
      // promoted our staging itself. Staging paths are unique per
      // (table, month) and only this writer and that recovery touch them,
      // so "staging vanished and final is a COMPLETE snapshot" means our
      // write landed — reporting failure here marked a fully-loaded table
      // falhou in the manifest (r13 review wave).
      if (!fs.exists(staging) && isComplete(fs, finalPath)) {
        fs.delete(backup, true)
        return
      }
      // restore the old snapshot before failing: rename back is the same
      // metadata op that just succeeded forward, so this only fails if the
      // filesystem itself is gone
      fs.rename(backup, finalPath)
      throw new java.io.IOException(s"rename $staging -> $finalPath failed")
    }
    fs.delete(backup, true)
    ()
  }

  /** Completed parquet writes carry a `_SUCCESS` marker (the default
    * `FileOutputCommitter` contract) — the recovery discriminator between
    * a COMPLETE orphaned staging dir (crash landed inside the swap after
    * the write finished: promote it) and a partial one (crash mid-write:
    * ignore it; the old data or backup is the truth).
    */
  private def isComplete(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Boolean =
    fs.exists(new org.apache.hadoop.fs.Path(p, Success))

  override def readBack(spark: SparkSession, table: String, refMonth: String): DataFrame =
    graft.ParquetRead(spark, snapshotDir(spark, table, refMonth))

  /** Sum of the row-group row counts in the footers of the snapshot dir
    * [[readBack]] resolves — the counts Spark's own parquet `count()`
    * answers from — read on the driver, so the audit costs no Spark job.
    */
  override def loadedRows(spark: SparkSession, table: String, refMonth: String): Long =
    graft.ParquetRead.rowCount(spark, snapshotDir(spark, table, refMonth))

  /** The one dir holding the snapshot's data files: the final dir, after
    * crash recovery.
    */
  private def snapshotDir(spark: SparkSession, table: String,
      refMonth: String): String = {
    val finalPath = path(table, refMonth)
    val fs = finalPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(finalPath)) {
      // crash inside a swap: prefer the complete NEW snapshot (it was
      // fully written — the swap just didn't finish), else the backup.
      // MIRROR of the promoteStaging race: a LIVE writer between its two
      // swap renames presents the same on-disk state as a crash, and can
      // win the promotion rename first — then this rename sees a vanished
      // source (FileNotFoundException on local/checksum filesystems,
      // `false` on HDFS; r13 review). Either way the truth is whatever
      // finalPath holds afterwards, so recovery failures fall through to
      // the read. The backup leg re-probes finalPath right before its
      // rename: renaming onto a now-existing final would otherwise fall
      // back to a COPY INTO the new snapshot dir on the local filesystem.
      val staging = path(table, refMonth, StagingPrefix)
      val backup = path(table, refMonth, BackupPrefix)
      try {
        if (isComplete(fs, staging)) fs.rename(staging, finalPath)
        else if (fs.exists(backup) && !fs.exists(finalPath))
          fs.rename(backup, finalPath)
      } catch { case _: java.io.FileNotFoundException => () }
    }
    finalPath.toString
  }
}

/** Relational sink, parity with the reference's actual deployment
  * (`main.py:198-216`: `TRUNCATE TABLE` then `to_sql(..., if_exists=
  * 'append')` into schema `rfb_YYYYMM`). Spark-side this is the `jdbc`
  * writer in Overwrite mode with `truncate=true` — when the table already
  * exists the dialect issues `TRUNCATE TABLE` and re-appends, preserving the
  * table's DDL (types, grants, dependent views) exactly as the reference's
  * explicit TRUNCATE does; a plain Overwrite would drop and recreate with
  * Spark's default type mapping.
  *
  * Scale notes (100 TB): the INSERT fan-in is bounded by the database, not
  * Spark — `numPartitions` caps concurrent connections (one table loads at
  * a time, [[concurrentOverwrites]]) and `batchsize`
  * amortizes round-trips (the reference's `method='multi', chunksize=10000`,
  * `main.py:205`). [[readBack]] is used by the pipeline only for the
  * `COUNT(*)` audit, which the JDBC source pushes down to the database; a
  * parallel analytical re-read would add `partitionColumn/lowerBound/
  * upperBound` instead.
  *
  * `copy` switches the DATA path to bulk `COPY FROM STDIN` — the throughput
  * upgrade the reference's README claims but its code never delivers
  * (`READme.md:24` vs `main.py:205`). DDL (create/truncate) still goes
  * through Spark's JDBC writer on an empty frame so both modes share one
  * type mapping; rows then stream per-partition through [[CopyApi]] (one
  * connection per partition — same `numPartitions` fan-in bound), encoded
  * in COPY text format without ever buffering a partition. Default stays
  * batched INSERT: that is reference parity, and it works on any JDBC
  * database; pass `Some(PgCopyApi)` against PostgreSQL.
  */
class JdbcSink(
    url: String,
    props: Properties = new Properties(),
    numPartitions: Int = 8,
    batchSize: Int = 10000,
    copy: Option[CopyApi] = None) extends TableSink {

  private def qualified(table: String, refMonth: String): String =
    s"${Period.schemaName(refMonth)}.$table"

  /** Create the per-month schema if absent (the reference does this via
    * `CREATE SCHEMA IF NOT EXISTS`, `main.py:177`; Derby has no IF NOT
    * EXISTS, so probe the metadata first).
    */
  private def ensureSchema(schema: String): Unit = {
    val conn = DriverManager.getConnection(url, props)
    try {
      val rs = conn.getMetaData.getSchemas
      var found = false
      while (!found && rs.next())
        found = schema.equalsIgnoreCase(rs.getString("TABLE_SCHEM"))
      rs.close()
      if (!found) {
        val st = conn.createStatement()
        // two JVMs loading the same new month both see "absent" and race
        // the CREATE; the loser's SQLException must not fail its whole
        // table load (the reference's IF NOT EXISTS semantics). Re-probe:
        // swallow the error ONLY when the schema verifiably exists now.
        try st.executeUpdate(s"CREATE SCHEMA $schema")
        catch {
          case e: java.sql.SQLException =>
            val again = conn.getMetaData.getSchemas
            var exists = false
            try {
              while (!exists && again.next())
                exists = schema.equalsIgnoreCase(again.getString("TABLE_SCHEM"))
            } finally again.close()
            if (!exists) throw e
        } finally st.close()
      }
    } finally conn.close()
  }

  override def overwrite(df: DataFrame, table: String, refMonth: String): Unit = {
    ensureSchema(Period.schemaName(refMonth))
    copy match {
      case None =>
        df.write
          .mode(SaveMode.Overwrite)
          .option("truncate", "true")
          .option("numPartitions", numPartitions.toString)
          .option("batchsize", batchSize.toString)
          .jdbc(url, qualified(table, refMonth), props)
      case Some(api) =>
        val target = qualified(table, refMonth)
        // the COPY text encoder serializes scalars (and bytea); a complex
        // column would go through toString as a Scala debug string where
        // the INSERT mode writes a real array — refuse it loudly instead
        // of a silent mode-switch fidelity regression
        val complex = df.schema.fields.filter(f => f.dataType match {
          case _: org.apache.spark.sql.types.ArrayType
             | _: org.apache.spark.sql.types.MapType
             | _: org.apache.spark.sql.types.StructType => true
          case _ => false
        })
        require(complex.isEmpty,
          s"COPY mode supports scalar columns only; ${complex.map(_.name)
            .mkString(", ")} need the batched-INSERT mode (copy = None)")
        // DDL through the same writer both modes use (identical TRUNCATE
        // semantics + type mapping), on an EMPTY frame — zero data rows
        // travel the INSERT path
        df.limit(0).write
          .mode(SaveMode.Overwrite)
          .option("truncate", "true")
          .jdbc(url, target, props)
        val (u, p, sql) =
          (url, props, PgCopyText.copySql(target, df.schema.fieldNames))
        val schema = df.schema
        // coalesce already clamps to the current partition count; the old
        // min(numPartitions, df.rdd.getNumPartitions) paid a second full
        // plan-to-RDD materialization per load to compute a value coalesce
        // derives for free (r13 review wave)
        df.coalesce(math.max(numPartitions, 1))
          .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
            if (rows.hasNext) {
              val conn = DriverManager.getConnection(u, p)
              try api.copyIn(conn, sql, new PgCopyText.RecordsReader(
                rows.map(PgCopyText.encodeRow(_, schema))))
              finally conn.close()
            }
            ()
          }
    }
  }

  override def readBack(spark: SparkSession, table: String, refMonth: String): DataFrame =
    spark.read.jdbc(url, qualified(table, refMonth), props)

  /** The V1 JDBC writer inserts via `rdd.foreachPartition` — no Dataset
    * action, so `observe()` metrics on the written frame never materialize.
    * The pipeline audits [[readBack]] instead (no extra cost: the V1 JDBC
    * source doesn't push down COUNT, so the audit scan and a bare count
    * read the same rows once).
    */
  override def observesWrites: Boolean = false

  /** One table at a time: `numPartitions` connections is then the bound for
    * the whole load, not per table, and the per-month schema's
    * `ensureSchema` and TRUNCATEs never run against each other.
    */
  override def concurrentOverwrites: Int = 1
}
