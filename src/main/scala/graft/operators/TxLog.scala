package graft.operators

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal lake transaction log — the commit protocol the versioned-dir
  * writers (st16's `$lake/v$N`, the md01 scratch materializations) were
  * missing: without it a crashed writer leaves an orphan `v{N+1}` directory
  * that the next reader may pick up half-written, and two concurrent writers
  * silently clobber each other's version.
  *
  * Reference anchor: the pipeline's manifest ledger
  * (`/root/reference/src/main.py:29-37,103,120,162,220`) gives per-FILE
  * exactly-once via a JSON ledger consulted before work and appended after;
  * this is the same idea applied at TABLE granularity with the Delta-style
  * log layout:
  *
  * {{{
  *   table/
  *     _txlog/00000000000000000001.json            // one file per commit
  *     _txlog/00000000000000000010.json
  *     _txlog/00000000000000000010.checkpoint.json // every N commits
  *     _txlog/_last_checkpoint                     // pointer (hint)
  *     v1-3fa9c1d2/ part-*.parquet   // data dirs: writer-unique names,
  *     v2-8be40a77/ part-*.parquet   // immutable once committed
  * }}}
  *
  *  - '''Commit''' = write the commit record to a temp file, then publish it
  *    at `_txlog/<version>.json` via [[Files.createLink]] — an atomic
  *    put-if-absent on POSIX (link(2) fails with EEXIST; a plain rename
  *    silently overwrites, which would let a lagging writer steal a version).
  *    This IS the expected-version CAS: a writer that prepared `v{N+1}`
  *    while another writer committed first gets [[CommitConflict]] and must
  *    re-read + retry against the new state; its orphan data dir is inert.
  *  - '''Read''' = latest committed version only. Data dirs without a commit
  *    file (crashed or losing writers) are invisible by construction —
  *    readers never list data dirs, only the log.
  *  - '''Checkpoint''' = every [[checkpointInterval]] commits the winning
  *    writer duplicates its record as `<version>.checkpoint.json` and
  *    atomically replaces the `_last_checkpoint` pointer (Delta's exact
  *    layout). [[latestVersion]] then reads the pointer and PROBES forward
  *    `<v+1>.json`, `<v+2>.json`, … — versions are contiguous by the CAS, so
  *    existence probes from the last checkpoint find the head in
  *    O(commits since checkpoint) without ever listing the log directory
  *    (a 100k-commit table costs the same read as a 10-commit one). The
  *    pointer is a hint: corrupt/stale/missing degrades to the listing
  *    path, never to a wrong answer.
  *  - '''Time travel''' = pin any committed version.
  *  - '''Vacuum''' = delete data dirs no commit references. Guarded by a
  *    retention window (default 15 min, like Delta's VACUUM): an IN-FLIGHT
  *    writer's staging dir — written but not yet committed — looks exactly
  *    like a crash orphan, and deleting it would publish a version whose
  *    data is gone. Age-gating makes vacuum safe alongside live writers
  *    whose write→commit gap is shorter than the window; `retainMs = 0` is
  *    for tests/offline maintenance ONLY.
  *  - '''Cleanup''' = [[cleanupBefore]] caps `_txlog/` growth by dropping
  *    commit files older than a checkpointed horizon. Checkpoint files are
  *    always kept, so time travel to checkpointed versions survives;
  *    cleaned non-checkpoint versions become unreadable — the same
  *    retention trade Delta's `logRetentionDuration` makes.
  *
  * Scale notes: the hot read path is one pointer read + a handful of
  * existence probes — the same per-PLAN (never per-task) metadata cost a
  * 1000-executor driver pays once per query. Data stays in parquet dirs
  * that Spark reads with full pushdown; the protocol adds zero cost to the
  * scan path. A real multi-writer object-store deployment would swap
  * `createLink` for the store's put-if-absent (S3 conditional PUT, ABFS
  * rename-without-overwrite) — the protocol shape is identical.
  */
object TxLog {
  final case class CommitConflict(table: String, version: Long)
      extends RuntimeException(
        s"version $version of $table was committed by another writer")

  final case class Commit(version: Long, dataDir: String, action: String)

  /** A checkpoint (+ pointer update) is written every N commits. */
  val checkpointInterval: Int = 10

  /** Default vacuum retention: staging dirs younger than this are presumed
    * in-flight (written, not yet committed) and never reclaimed.
    */
  val defaultVacuumRetainMs: Long = 15L * 60 * 1000

  private val mapper = new ObjectMapper

  /** Reject scheme-prefixed roots AT THE LAYER THAT OWNS THE INVARIANT:
    * this log is java.nio (hard links), so a "file:/mnt/lake/t" root
    * resolves as a CWD-relative LITERAL directory here while Spark's
    * Hadoop side writes the data under /mnt/lake/t — a split-brain table
    * whose vacuum, run from another CWD, sees zero commits and reclaims
    * every live data dir. TableSink.overwrite carries the same guard with
    * a friendlier deployment message, but TxLog is a public object with
    * direct callers, and the guard only protected that one entry (r15
    * review; the r13 split-brain scenario). Applied on every mutating
    * entry (commit, vacuum, cleanupBefore — write reaches commit).
    */
  private def requirePosixRoot(table: String): Unit =
    // `*` not `+` after the first letter: RFC 3986 allows SINGLE-letter
    // schemes ("s3:" is two letters, but "x:/t" is a legal URI too), and
    // this repo targets Linux where "x:/t" as a relative directory named
    // "x:" is pathological — treat it as a scheme, not a carve-out for
    // Windows drive letters (r15 ADVICE).
    require(!table.matches("^[A-Za-z][A-Za-z0-9+.-]*:/.*"),
      s"TxLog needs a plain POSIX path (no URI scheme), got $table — " +
        "a scheme-prefixed root split-brains the java.nio log from the " +
        "Hadoop-side data (see the class doc's object-store note)")

  /** Write bytes with StandardOpenOption.SYNC: the data (and file
    * metadata) reach the device BEFORE the caller publishes the name via
    * createLink/ATOMIC_MOVE. Without it, Files.write buffers and the
    * publish is pure metadata — on a delayed-allocation journaled FS a
    * power loss can surface a PUBLISHED <version>.json with zero/torn
    * bytes, which latestVersion counts as the head and commitRecord then
    * rejects on every read, wedging vacuum and time travel permanently —
    * the r14 atomic-checkpoint fix closed that for process crashes, this
    * closes it for machine crashes (r15 review). Residual caveat, out of
    * java.nio's portable reach: full durability of the published NAME
    * also needs a directory fsync; the failure mode there is a cleanly
    * MISSING head (the previous version serves), never a torn one.
    */
  private def writeDurable(p: Path, bytes: Array[Byte]): Unit =
    Files.write(p, bytes, java.nio.file.StandardOpenOption.WRITE,
      java.nio.file.StandardOpenOption.TRUNCATE_EXISTING,
      java.nio.file.StandardOpenOption.SYNC)

  private def logDir(table: String): Path = Paths.get(table, "_txlog")

  private def commitFile(table: String, version: Long): Path =
    logDir(table).resolve(f"$version%020d.json")

  private def checkpointFile(table: String, version: Long): Path =
    logDir(table).resolve(f"$version%020d.checkpoint.json")

  private def pointerFile(table: String): Path =
    logDir(table).resolve("_last_checkpoint")

  /** Versions with a published commit OR checkpoint file, ascending (one
    * directory listing — the cold/maintenance path; hot reads go through
    * [[latestVersion]]'s pointer+probe). Checkpoint files count so that
    * [[vacuum]] after [[cleanupBefore]] still sees checkpointed versions'
    * data dirs as referenced.
    */
  def versions(table: String): Seq[Long] = {
    val dir = logDir(table)
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala
        .map(_.getFileName.toString)
        .flatMap { n =>
          if (n.endsWith(".checkpoint.json"))
            n.stripSuffix(".checkpoint.json").toLongOption
          else if (n.endsWith(".json")) n.stripSuffix(".json").toLongOption
          else None
        }
        .toSeq.distinct.sorted
      finally s.close()
    }
  }

  /** The last-checkpoint pointer, if present and readable (a hint — stale
    * or corrupt degrades to the listing path, never to a wrong answer).
    */
  private def checkpointHint(table: String): Option[Long] =
    try {
      val p = pointerFile(table)
      if (!Files.isRegularFile(p)) None
      else Option(mapper.readTree(Files.readAllBytes(p)).get("version"))
        .filter(_.canConvertToLong).map(_.asLong)
        // guard: a hint pointing past the head (possible only via manual
        // log surgery) must not make latestVersion invent versions
        .filter(v => Files.isRegularFile(commitFile(table, v)) ||
          Files.isRegularFile(checkpointFile(table, v)))
    } catch { case _: Exception => None }

  /** Latest committed version: pointer read + forward existence probes
    * (versions are contiguous by the CAS), falling back to one listing when
    * no checkpoint exists yet. Never lists the log when a checkpoint is
    * present — O(commits since checkpoint), not O(commits).
    */
  def latestVersion(table: String): Option[Long] = {
    def probeFrom(start: Long): Long = {
      var v = start
      while (Files.isRegularFile(commitFile(table, v + 1))) v += 1
      v
    }
    var v = probeFrom(checkpointHint(table) match {
      case Some(h) => h
      case None => versions(table).lastOption.getOrElse(0L)
    })
    // re-read the hint after probing: a concurrent cleanupBefore may have
    // re-anchored the pointer and DELETED the range the probe walked, in
    // which case the probe stalled below the true head — a stale answer a
    // subsequent commit would fork the log against (r10 review). Hints
    // only move forward, so this loop terminates.
    var hint = checkpointHint(table)
    while (hint.exists(_ > v)) {
      v = probeFrom(hint.get)
      hint = checkpointHint(table)
    }
    if (v == 0L) None else Some(v)
  }

  def commitRecord(table: String, version: Long): Commit = {
    val f = commitFile(table, version)
    // cleaned-up versions survive through their checkpoint record; the
    // fallback also covers the TOCTOU where a concurrent cleanupBefore
    // deletes the plain file between the existence check and the read —
    // the checkpoint record it anchored to is still there (r10 review)
    val txt =
      try {
        val src = if (Files.isRegularFile(f)) f else checkpointFile(table, version)
        new String(Files.readAllBytes(src), StandardCharsets.UTF_8)
      } catch {
        case _: java.nio.file.NoSuchFileException
            if Files.isRegularFile(checkpointFile(table, version)) =>
          new String(Files.readAllBytes(checkpointFile(table, version)),
            StandardCharsets.UTF_8)
      }
    val node = mapper.readTree(txt)
    def field(k: String): String =
      Option(node.get(k)).map(_.asText).getOrElse(
        throw new IllegalStateException(s"corrupt commit $version: $txt"))
    Commit(field("version").toLong, field("dataDir"), field("action"))
  }

  /** Publish `dataDir` as version `expected + 1` — the CAS step. The data
    * must already be fully written (it becomes immutable on publish).
    * Throws [[CommitConflict]] if another writer committed first. Every
    * [[checkpointInterval]]-th version also writes its checkpoint record and
    * moves the `_last_checkpoint` pointer (best-effort: a failed checkpoint
    * write leaves a committed version and a stale hint — slower reads, same
    * answers).
    */
  def commit(table: String, expected: Long, dataDir: String,
      action: String = "write"): Long = {
    requirePosixRoot(table)
    val version = expected + 1
    val cur = latestVersion(table).getOrElse(0L)
    if (cur != expected) throw CommitConflict(table, cur)
    Files.createDirectories(logDir(table))
    // through the mapper, not string interpolation: `action` and
    // `dataDir` are caller-supplied, and a quote or backslash in either
    // wrote a syntactically invalid record that bricked every later read
    // of the version (r10 review). version stays a STRING field — the
    // on-disk record shape is unchanged.
    val recNode = mapper.createObjectNode()
    recNode.put("version", version.toString)
    recNode.put("dataDir", dataDir)
    recNode.put("action", action)
    val bytes = mapper.writeValueAsString(recNode)
      .getBytes(StandardCharsets.UTF_8)
    // last-instant stale-head guard: if a cleanup re-anchored the pointer
    // PAST this version since `cur` was computed, our link would recreate
    // a just-deleted commit below the pointer — a forked log. (The
    // latestVersion re-probe makes this window sub-microsecond; checking
    // the hint here collapses the remaining practical exposure.)
    // report the OBSERVED head (re-probed), not the attempted version: a
    // retry loop that trusts the exception's current-version field would
    // otherwise compute a wrong expected version (r10 ADVICE)
    if (checkpointHint(table).exists(_ >= version))
      throw CommitConflict(table, latestVersion(table).getOrElse(0L))
    val tmp = Files.createTempFile(logDir(table), s".tmp-$version-", ".json")
    // the write sits INSIDE the try: a failed write (disk full) must not
    // leak the temp file past the finally — no cleanup path ever removes
    // .tmp-* orphans, so a retry loop accumulated one per attempt (r14
    // review; matches movePointerForward's discipline)
    try {
      writeDurable(tmp, bytes) // synced BEFORE the link publishes the name
      Files.createLink(commitFile(table, version), tmp)
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw CommitConflict(table, version)
    } finally Files.deleteIfExists(tmp)
    if (version % checkpointInterval == 0)
      try {
        // checkpoint records get the same atomicity as commits (temp +
        // ATOMIC_MOVE), NOT an in-place Files.write: a truncated
        // .checkpoint.json survives the swallowed exception below, then a
        // later cleanup anchored above it deletes the plain commit — and
        // from then on commitRecord throws a parse error vacuum's
        // NoSuchFile guard does not catch, wedging maintenance and time
        // travel permanently (r14 review). Two racing checkpointers write
        // identical bytes; the replacing atomic move is idempotent.
        val ctmp = Files.createTempFile(
          logDir(table), s".ckpt-$version-", ".json")
        try {
          writeDurable(ctmp, bytes)
          Files.move(ctmp, checkpointFile(table, version),
            StandardCopyOption.REPLACE_EXISTING,
            StandardCopyOption.ATOMIC_MOVE)
        } finally Files.deleteIfExists(ctmp)
        movePointerForward(table, version)
      } catch { case _: Exception => () }
    version
  }

  /** Atomically replace `_last_checkpoint` with `version`, but only if it
    * moves the pointer FORWARD. Monotonicity is load-bearing, not cosmetic:
    * [[cleanupBefore]] deletes plain commits below the pointer's anchor, so
    * a STALE checkpointer (slept between its checkpoint write and its
    * pointer move while newer commits + a cleanup happened) that rewound
    * the pointer would strand [[latestVersion]]'s forward probe below the
    * deleted range — a stale head, and a forked log once the next writer
    * commits against it. The check-then-move pair runs under a FileLock on
    * `_pointer.lock` (plus a per-table JVM monitor: POSIX file locks are
    * process-scoped, and a second lock attempt from the same JVM throws
    * OverlappingFileLockException instead of blocking), making the
    * forward-only update a genuine CAS — a checkpointer that pauses
    * arbitrarily long between its hint read and its move now re-reads
    * INSIDE the exclusive section, so it can never rewind a pointer that
    * a concurrent cleanup just re-anchored (the r9 ADVICE window). Lock
    * unavailability (filesystems without byte-range locks) degrades to the
    * pre-lock check-then-move, never to a failed checkpoint.
    */
  private[operators] def movePointerForward(table: String, version: Long): Unit = {
    val monitor = pointerMonitors.computeIfAbsent(table, _ => new Object)
    monitor.synchronized {
      val locked =
        try {
          val ch = java.nio.channels.FileChannel.open(
            logDir(table).resolve("_pointer.lock"),
            java.nio.file.StandardOpenOption.CREATE,
            java.nio.file.StandardOpenOption.WRITE)
          try Some((ch, ch.lock()))
          catch { case _: Exception => ch.close(); None }
        } catch { case _: Exception => None }
      try {
        if (checkpointHint(table).exists(_ >= version)) return
        val ptmp = Files.createTempFile(logDir(table), ".tmp-ptr-", ".json")
        try {
          writeDurable(ptmp, s"""{"version":$version}""".getBytes(
            StandardCharsets.UTF_8))
          Files.move(ptmp, pointerFile(table),
            StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
        } finally Files.deleteIfExists(ptmp) // a failed move (e.g. no
        // ATOMIC_MOVE on this fs) must not deposit an orphan per attempt
      } finally locked.foreach { case (ch, lk) =>
        try { lk.release(); ch.close() } catch { case _: Exception => () }
      }
    }
  }

  private val pointerMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Write `df` as the next version of `table` with an expected-version CAS:
    * data lands in a fresh UNIQUELY-NAMED staging dir first (never visible
    * to readers), then one atomic publish. The staging name must NOT be
    * derived from the version alone — two writers racing the same expected
    * version would stage into the same path and the loser would clobber the
    * winner's already-committed data before its CAS even fails (caught by
    * TxLogSpec's stale-writer case). Only the log assigns versions; data
    * dir names are writer-unique, exactly like Delta's uniquely-named data
    * files. Returns the committed version; a losing writer's staging dir
    * becomes an orphan that [[vacuum]] reclaims.
    */
  def write(spark: SparkSession, table: String, df: DataFrame,
      expected: Long, action: String = "write"): Long = {
    val version = expected + 1
    val dataDir =
      s"v$version-${java.util.UUID.randomUUID.toString.take(8)}"
    df.write.mode("overwrite").parquet(s"$table/$dataDir")
    commit(table, expected, dataDir, action)
  }

  /** Latest committed state; empty-schema error if never committed. */
  def read(spark: SparkSession, table: String): DataFrame =
    graft.ParquetRead(spark, headDir(table))

  /** Time travel: the table exactly as of committed `version`. */
  def readVersion(spark: SparkSession, table: String, version: Long)
      : DataFrame =
    graft.ParquetRead(spark, versionDir(table, version))

  /** The data dir committed `version` publishes. */
  private def versionDir(table: String, version: Long): String =
    s"$table/${commitRecord(table, version).dataDir}"

  /** The data dir of the latest committed version; throws if never
    * committed.
    */
  def headDir(table: String): String =
    versionDir(table, latestVersion(table).getOrElse(
      throw new IllegalStateException(s"$table has no committed versions")))

  /** Delete data dirs no commit references (orphans from crashed or losing
    * writers), SKIPPING dirs modified within `retainMs` — an in-flight
    * writer between write() and commit() is indistinguishable from a crash
    * orphan, and reclaiming its staging dir would commit a version with no
    * data behind it. Never touches the log or committed dirs. Returns the
    * removed dir names. `retainMs = 0` (reclaim everything unreferenced,
    * the pre-retention behavior) requires NO concurrent writers — tests and
    * offline maintenance only.
    */
  def vacuum(table: String,
      retainMs: Long = defaultVacuumRetainMs): Seq[String] = {
    requirePosixRoot(table)
    // A version listed a moment ago can lose its record to a CONCURRENT
    // cleanupBefore. If both its files are verifiably gone now, that is
    // cleanup's documented outcome — the data dir becomes an intentional
    // orphan, so skipping it from the committed set is correct. Any other
    // read failure (corrupt record, transient IO) must ABORT: an unreadable
    // record means an unknown dataDir, and guessing it uncommitted would
    // vacuum live data.
    val committed = versions(table).flatMap { v =>
      try Some(commitRecord(table, v).dataDir)
      catch {
        case _: java.nio.file.NoSuchFileException
            if !Files.isRegularFile(commitFile(table, v)) &&
              !Files.isRegularFile(checkpointFile(table, v)) => None
      }
    }.toSet
    val root = Paths.get(table)
    if (!Files.isDirectory(root)) return Seq.empty
    val cutoff = System.currentTimeMillis - retainMs
    val s = Files.list(root)
    val orphans =
      try s.iterator().asScala
        .filter(p => Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("v") &&
          !committed.contains(p.getFileName.toString) &&
          Files.getLastModifiedTime(p).toMillis <= cutoff)
        .toSeq
      finally s.close()
    orphans.foreach(deleteRecursively)
    orphans.map(_.getFileName.toString)
  }

  /** Cap `_txlog/` growth: drop plain commit files for versions strictly
    * below `horizon`, where `horizon` must be at or below an existing
    * checkpoint (so [[latestVersion]]'s probe path and [[versions]] both
    * stay anchored). Checkpoint files and the pointer are never removed.
    * Cleaned versions lose time travel unless checkpointed — Delta's
    * `logRetentionDuration` trade. Their data dirs become vacuum-eligible
    * orphans unless a checkpoint still references them. Returns the removed
    * file names.
    */
  /** Versions with a checkpoint record, ascending — the cleanup anchors.
    * Shared with the maintenance entry point ([[graft.tools.Maintain]])
    * so the two can never drift on the checkpoint file naming.
    */
  private[graft] def checkpointVersions(table: String): Seq[Long] = {
    val dir = logDir(table)
    if (!Files.isDirectory(dir)) Seq.empty[Long]
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".checkpoint.json"))
        .flatMap(_.stripSuffix(".checkpoint.json").toLongOption)
        .toSeq.sorted
      finally s.close()
    }
  }

  def cleanupBefore(table: String, horizon: Long): Seq[String] = {
    requirePosixRoot(table)
    val ckpts = checkpointVersions(table)
    require(ckpts.exists(_ >= horizon),
      s"cleanup horizon $horizon has no checkpoint at or above it — " +
        "readers would lose the log head anchor")
    // Re-anchor the pointer BEFORE deleting: latestVersion's probe walks
    // plain commits strictly above the pointer, so the invariant "every
    // commit above the pointer exists" must hold across cleanup. A stale
    // or missing pointer (best-effort checkpoint writes can lose it) that
    // sat below `horizon` would otherwise strand the probe in the deleted
    // range — stale head, then a forked log on the next commit.
    movePointerForward(table, ckpts.filter(_ >= horizon).min)
    val doomed = versions(table)
      .filter(v => v < horizon && Files.isRegularFile(commitFile(table, v)))
    doomed.foreach(v => Files.deleteIfExists(commitFile(table, v)))
    doomed.map(v => commitFile(table, v).getFileName.toString)
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.iterator().asScala.toSeq.foreach(deleteRecursively)
      finally s.close()
    }
    Files.deleteIfExists(p)
  }
}
