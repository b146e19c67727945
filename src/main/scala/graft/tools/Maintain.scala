package graft.tools

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.Bench
import graft.operators.TxLog
import graft.pipeline.SnapshotLayout

/** Composed lake-maintenance entry point (r11 order #5): one pass that caps
  * `_txlog/` growth AND reclaims orphaned data dirs for a set of TxLog
  * tables, under two retention knobs, safe to run while writers and readers
  * are live:
  *
  *  - `keepVersions` — time-travel horizon: plain commit records within the
  *    last `keepVersions` versions of the head are never cleaned, so
  *    `TxLog.readVersion` keeps working across that window (checkpointed
  *    versions additionally survive any horizon — Delta's
  *    `logRetentionDuration` trade, see [[TxLog.cleanupBefore]]). Cleanup
  *    only ever advances to a checkpoint anchor, so it is a no-op until the
  *    first checkpoint lands (every [[TxLog.checkpointInterval]] commits).
  *  - `vacuumRetainMs` — in-flight window: unreferenced `v*` data dirs
  *    modified within this window are presumed to belong to a writer
  *    between its data write and its commit CAS and are left alone
  *    ([[TxLog.vacuum]]'s retention contract). Production default 15 min;
  *    anything lower assumes faster writers.
  *
  * Ordering matters and is fixed here: cleanup FIRST, then vacuum — a
  * version whose plain commit was just dropped (and that no checkpoint
  * references) becomes an intentional orphan, and the same pass's vacuum
  * reclaims its data dir once it ages past `vacuumRetainMs`. The reverse
  * order would strand every cleaned version's data until the next pass.
  *
  * Main usage:
  *   Maintain <keepVersions> <vacuumRetainMs> <tableRoot> [more roots...]
  *   Maintain <keepVersions> <vacuumRetainMs> --lake <outDir>
  * `--lake` discovers every `outDir/TABLE/ref_month=M` dir carrying a
  * `_txlog` — the versioned [[graft.pipeline.ParquetSink]] layout — so one
  * cron line maintains a whole snapshot lake; a dir carrying BOTH modes'
  * markers (mid-migration / contested) is skipped loudly, never vacuumed
  * ([[classifyLake]]). Pure driver-side metadata work (file counts ~
  * versions, never rows); needs no SparkSession.
  */
object Maintain {

  final case class Report(
      table: String,
      head: Long,
      cleanedCommits: Seq[String],
      vacuumedDirs: Seq[String]) {
    override def toString: String = {
      // Bench.jstr: an operator-supplied path's quote or backslash must
      // not break the one-line JSON a cron log parser reads
      s"""{"table":${Bench.jstr(table)},"head":$head,""" +
        s""""cleaned_commits":${cleanedCommits.size},""" +
        s""""vacuumed_dirs":${vacuumedDirs.size}}"""
    }
  }

  /** One maintenance pass over one TxLog table root. Never throws on an
    * empty or not-yet-committed table (a cron pass must not die on a table
    * that a first writer is still staging).
    */
  def maintainTable(table: String, keepVersions: Int,
      vacuumRetainMs: Long): Report = {
    require(keepVersions >= 1, "keepVersions must retain at least the head")
    val head = TxLog.latestVersion(table).getOrElse(0L)
    val cleaned =
      if (head == 0L) Seq.empty[String]
      else {
        // desired horizon: everything strictly below (head - keep + 1) goes.
        // cleanupBefore insists on a checkpoint anchor at/above the horizon;
        // when the desired horizon has none BELOW it is fine (the anchor is
        // above), but when every checkpoint sits below the desired horizon,
        // retreat to the newest checkpoint — cleaning less than asked is
        // always safe, throwing on a young table is not.
        val desired = head - keepVersions + 1
        val ckpts = TxLog.checkpointVersions(table)
        val anchor = ckpts.find(_ >= desired).orElse(ckpts.lastOption)
        anchor match {
          case None => Seq.empty // no checkpoint yet — nothing cleanable
          case Some(a) =>
            val horizon = math.min(desired, a)
            if (horizon <= 1) Seq.empty
            else TxLog.cleanupBefore(table, horizon)
        }
      }
    val vacuumed = TxLog.vacuum(table, vacuumRetainMs)
    Report(table, head, cleaned, vacuumed)
  }

  /** Discover versioned-sink table roots under a lake dir:
    * `outDir/<table>/ref_month=<M>` dirs that carry a `_txlog`. Dirs that
    * ALSO carry rename-mode markers are excluded — see [[classifyLake]].
    */
  def discoverLake(outDir: Path): Seq[String] = classifyLake(outDir)._1

  /** Lake discovery split into (cleanly versioned roots, MIXED-marker
    * roots). Mixed = a `_txlog` dir that also shows rename-mode artifacts:
    * `_SUCCESS` directly under it, or live `_staging_`/`_backup_` siblings
    * — a state [[graft.pipeline.ParquetSink]]'s layout guard refuses to
    * create, so it means a mid-migration table, outside interference, or a
    * bug. Maintenance must SKIP those loudly (r13 verdict order #5):
    * vacuum reads the TxLog head and reclaims "unreferenced" dirs, but on
    * a contested root the rename protocol still owns data the log knows
    * nothing about, and the rename-mode recovery may be about to rename
    * the staging dir over the whole root.
    */
  def classifyLake(outDir: Path): (Seq[String], Seq[String]) = {
    if (!Files.isDirectory(outDir)) return (Seq.empty, Seq.empty)
    val tables = Files.list(outDir)
    val found =
      try tables.iterator().asScala.filter(Files.isDirectory(_)).flatMap { t =>
        val months = Files.list(t)
        try months.iterator().asScala
          .filter(p => Files.isDirectory(p) &&
            p.getFileName.toString.startsWith("ref_month=") &&
            Files.isDirectory(p.resolve(SnapshotLayout.TxLogDirName)))
          .map(p => (p.toString, hasRenameMarkers(p))).toSeq
        finally months.close()
      }.toSeq.sortBy(_._1)
      finally tables.close()
    (found.collect { case (p, false) => p },
      found.collect { case (p, true) => p })
  }

  private def hasRenameMarkers(p: Path): Boolean = {
    val name = p.getFileName.toString
    Files.exists(p.resolve(SnapshotLayout.Success)) ||
      Files.exists(p.resolveSibling(s"${SnapshotLayout.StagingPrefix}$name")) ||
      Files.exists(p.resolveSibling(s"${SnapshotLayout.BackupPrefix}$name"))
  }

  /** Arg parse + dispatch, returning the process exit code (0 ok, 2 usage,
    * 3 = maintained but SKIPPED contested roots — distinct so cron
    * alerting notices a permanently unmaintained table instead of reading
    * eternal success) so specs can exercise the parsing without a
    * sys.exit. The knobs are validated IN the match guards (r13 ADVICE): a
    * cron-line typo like `Maintain 5m 0 /t` must fall through to the usage
    * message before any table is touched — `.toInt` in the body instead
    * threw a NumberFormatException stack trace, and with multiple roots
    * could land after some tables were already maintained. keepVersions
    * < 1 is the same class (maintainTable would reject it per-table), and
    * so is a NEGATIVE vacuumRetainMs (r14 review: '-900000' parsed fine,
    * but a negative window puts the vacuum cutoff in the FUTURE and
    * reclaims a live writer's just-written data dir); both fail the guard
    * up front.
    */
  def run(args: Array[String]): Int = args.toList match {
    case keep :: retain :: "--lake" :: out :: Nil
        if keep.toIntOption.exists(_ >= 1) &&
          retain.toLongOption.exists(_ >= 0L) =>
      val (roots, mixed) = classifyLake(Paths.get(out))
      mixed.foreach(m => System.err.println(
        s"""{"maintain":"SKIPPED mixed-marker table (TxLog + rename-mode """ +
          s"""artifacts)","table":${Bench.jstr(m)}}"""))
      if (roots.isEmpty && mixed.isEmpty)
        println(s"""{"maintain":${Bench.jstr(s"no TxLog tables under $out")}}""")
      roots.foreach(t =>
        println(maintainTable(t, keep.toInt, retain.toLong)))
      if (mixed.nonEmpty) 3 else 0
    case keep :: retain :: roots
        if keep.toIntOption.exists(_ >= 1) &&
          retain.toLongOption.exists(_ >= 0L) &&
          roots.nonEmpty && !roots.exists(_.startsWith("--")) =>
      // the flag guard keeps a malformed --lake invocation (extra arg,
      // typo) from degrading into maintainTable("--lake", ...) no-op
      // reports that silently stop maintaining every table (r13 review)
      roots.foreach(t => println(maintainTable(t, keep.toInt, retain.toLong)))
      0
    case other =>
      System.err.println(
        "usage: Maintain <keepVersions (>= 1)> <vacuumRetainMs (>= 0)> " +
          "<tableRoot>... | --lake <outDir>")
      2
  }

  def main(args: Array[String]): Unit = {
    val rc = run(args)
    if (rc != 0) sys.exit(rc)
  }
}
