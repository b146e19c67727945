package graft.operators

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal lake transaction log — the commit protocol the versioned-dir
  * writers (st16's micro-batch merge lake, md08's time-travel table) were
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
  *     _txlog/00000000000000000001.json   // one file per commit
  *     _txlog/00000000000000000002.json
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
  *  - '''Read''' = latest committed version only: the highest version in
  *    one listing of the log. Data dirs without a commit file (crashed or
  *    losing writers) are invisible by construction — readers never list
  *    data dirs, only the log.
  *  - '''Time travel''' = pin any committed version. Nothing deletes a
  *    commit file or a committed data dir, so every version stays readable.
  *
  * Scale notes: the read path is one listing of the log — a per-PLAN
  * (never per-task) metadata cost, linear in the commit count. The callers
  * commit a few versions per table; Delta's pointer-and-probe read pays
  * off only for logs of many thousands of commits. Data stays in parquet
  * dirs that Spark reads with full pushdown; the protocol adds zero cost
  * to the scan path. A real multi-writer object-store deployment would swap
  * `createLink` for the store's put-if-absent (S3 conditional PUT, ABFS
  * rename-without-overwrite) — the protocol shape is identical.
  */
object TxLog {
  final case class CommitConflict(table: String, version: Long)
      extends RuntimeException(
        s"version $version of $table was committed by another writer")

  final case class Commit(version: Long, dataDir: String, action: String)

  private val mapper = new ObjectMapper

  /** Reject scheme-prefixed roots AT THE LAYER THAT OWNS THE INVARIANT:
    * this log is java.nio (hard links), so a "file:/mnt/lake/t" root
    * resolves as a CWD-relative LITERAL directory here while Spark's
    * Hadoop side writes the data under /mnt/lake/t — a split-brain table
    * whose log no reader from another CWD finds (the r13 split-brain
    * scenario). Applied on [[commit]], which [[write]] reaches.
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
    * createLink. Without it, Files.write buffers and the
    * publish is pure metadata — on a delayed-allocation journaled FS a
    * power loss can surface a PUBLISHED <version>.json with zero/torn
    * bytes, which latestVersion counts as the head and commitRecord then
    * rejects on every read, wedging the table's head permanently (r15
    * review). Residual caveat, out of
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

  /** Versions with a published commit file, ascending (one directory
    * listing; temp files and any other name that is not a bare version
    * number are skipped).
    */
  private def versions(table: String): Seq[Long] = {
    val dir = logDir(table)
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.endsWith(".json"))
        .flatMap(_.stripSuffix(".json").toLongOption)
        .toSeq.sorted
      finally s.close()
    }
  }

  /** Latest committed version: the highest one in one listing of the log
    * (versions are contiguous by the CAS).
    */
  def latestVersion(table: String): Option[Long] = versions(table).lastOption

  def commitRecord(table: String, version: Long): Commit = {
    val txt = new String(Files.readAllBytes(commitFile(table, version)),
      StandardCharsets.UTF_8)
    val node = mapper.readTree(txt)
    def field(k: String): String =
      Option(node.get(k)).map(_.asText).getOrElse(
        throw new IllegalStateException(s"corrupt commit $version: $txt"))
    Commit(field("version").toLong, field("dataDir"), field("action"))
  }

  /** Publish `dataDir` as version `expected + 1` — the CAS step. The data
    * must already be fully written (it becomes immutable on publish).
    * Throws [[CommitConflict]] if another writer committed first.
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
    val tmp = Files.createTempFile(logDir(table), s".tmp-$version-", ".json")
    // the write sits INSIDE the try: a failed write (disk full) must not
    // leak the temp file past the finally — no cleanup path ever removes
    // .tmp-* orphans, so a retry loop accumulated one per attempt (r14
    // review)
    try {
      writeDurable(tmp, bytes) // synced BEFORE the link publishes the name
      Files.createLink(commitFile(table, version), tmp)
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw CommitConflict(table, version)
    } finally Files.deleteIfExists(tmp)
    version
  }

  /** Write `df` as the next version of `table` with an expected-version CAS:
    * data lands in a fresh UNIQUELY-NAMED staging dir first (never visible
    * to readers), then one atomic publish. The staging name must NOT be
    * derived from the version alone — two writers racing the same expected
    * version would stage into the same path and the loser would clobber the
    * winner's already-committed data before its CAS even fails (caught by
    * TxLogSpec's stale-writer case). Only the log assigns versions; data
    * dir names are writer-unique, exactly like Delta's uniquely-named data
    * files. Returns the committed version; a losing writer's staging dir
    * becomes an inert orphan no commit points at.
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
  private def headDir(table: String): String =
    versionDir(table, latestVersion(table).getOrElse(
      throw new IllegalStateException(s"$table has no committed versions")))
}
