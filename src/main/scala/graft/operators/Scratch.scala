package graft.operators

import java.util.concurrent.{ConcurrentHashMap, ExecutionException, FutureTask}

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ParquetRead

/** Scratch storage: intermediates written to parquet once and read back by
  * every consumer, so multi-branch plans share one computation without any
  * session-lifetime cache. dd, gr, er, q59, q61, ss and md queries build on
  * it; Bench's `scratchOwner` table keys into its tags.
  *
  * Lifecycle (a long-lived engine session must not accumulate corpus-sized
  * temp tables, and a cluster must be able to read them from every
  * executor):
  *  - the scratch ROOT is `spark.graft.scratch.dir` when set (on a
  *    multi-node cluster: a shared path — HDFS/S3/NFS; all paths go through
  *    the Hadoop FileSystem API, so any supported scheme works), defaulting
  *    to the driver-local java tmpdir, which is only correct for local mode;
  *    each build writes `graft_<tag>_<uuid>` under it;
  *  - builds are CACHED per [[key]]: re-running dd02 after dd06 reuses the
  *    signature tables instead of re-writing the corpus, and a source table
  *    rewritten in place under the same path invalidates the entry instead
  *    of serving stale results;
  *  - [[clear]] deletes everything eagerly — call it when the consuming
  *    actions are done (Verify/Bench do); a JVM shutdown hook backstops
  *    sessions that never call it.
  */
object Scratch {
  private val scratchCache =
    new ConcurrentHashMap[(String, String), FutureTask[String]]()
  private val scratchDirs = ConcurrentHashMap.newKeySet[String]()
  // captured at first build: the shutdown-hook path must not touch
  // SparkContext.getOrCreate (it could spawn a context mid-shutdown)
  private val hadoopConf =
    new java.util.concurrent.atomic.AtomicReference[Configuration](null)
  // Seconds spent WRITING scratch tables since the last drain, per tag.
  // Bench drains it after each timed query so an owner query's scratch
  // build is reported separately (`scratch_build_s`) instead of silently
  // inflating its time.
  private val buildSeconds = new ConcurrentHashMap[String, java.lang.Double]()

  /** The one cache key, shared by [[materialized]] and [[peek]]: tag,
    * caller key and the fingerprints of `inputs`' source files.
    */
  private def key(tag: String, cacheKey: String,
      inputs: Seq[DataFrame]): (String, String) =
    (tag, cacheKey + "#" + inputs.map(inputFingerprint).mkString("+"))

  /** Write `df` to a scratch parquet table and read it back, keyed on
    * `df`'s own source files.
    */
  private[operators] def materialized(
      df: DataFrame, tag: String, cacheKey: String): DataFrame =
    materialized(df, tag, cacheKey, Seq(df))

  /** As above, keyed on `inputs` instead. A frame whose lineage ends at a
    * checkpoint has no input files, so its own fingerprint is a CONSTANT
    * and a rewritten source would serve stale results: iterative callers
    * (connected components, pagerank, BFS) pass their TRUE inputs here.
    */
  private[operators] def materialized(df: DataFrame, tag: String,
      cacheKey: String, inputs: Seq[DataFrame]): DataFrame = {
    val s = df.sparkSession
    val k = key(tag, cacheKey, inputs)
    // the corpus-sized WRITE must not run inside computeIfAbsent: the
    // compute holds the map's bin lock for its whole duration, so two
    // builds of UNRELATED tags could serialize on a hash-bin collision.
    // computeIfAbsent only CREATES the task; run() is idempotent — the
    // first caller computes, concurrent same-key callers block on get().
    val task = scratchCache.computeIfAbsent(k, _ => new FutureTask[String](
      () => {
        val root = new Path(s.conf.getOption("spark.graft.scratch.dir")
          .getOrElse(System.getProperty("java.io.tmpdir")))
        val p = new Path(root, s"graft_${tag}_${java.util.UUID.randomUUID}")
          .toString
        // register BEFORE the write: a failed/interrupted write would
        // otherwise leave a corpus-sized partial dir no cleanup path knows
        // about (retries mint a fresh UUID, permanently orphaning it)
        hadoopConf.compareAndSet(null, s.sparkContext.hadoopConfiguration)
        scratchDirs.add(p)
        val t0 = System.nanoTime()
        df.write.mode("overwrite").parquet(p)
        buildSeconds.merge(tag, (System.nanoTime() - t0) / 1e9,
          (a, b) => a + b)
        p
      }))
    task.run()
    val path =
      try task.get()
      catch {
        case e: ExecutionException =>
          // a failed build must not poison the key: evict so a retry
          // rebuilds
          scratchCache.remove(k, task)
          throw e.getCause
      }
    ParquetRead(s, path)
  }

  /** Cache PEEK for iterative operators: the scratch frame the eventual
    * `materialized(result, tag, cacheKey, inputs)` call would serve.
    * Checked BEFORE the rounds run, since every round is an eager job.
    * Non-blocking: only a COMPLETED successful build counts as a hit (an
    * in-flight or failed task reads as a miss, and the caller's
    * materialized() then blocks on / replaces it); a completed-but-FAILED
    * task is evicted here, so peek-only callers do not keep hitting it.
    */
  private[operators] def peek(s: SparkSession, tag: String,
      cacheKey: String, inputs: Seq[DataFrame]): Option[DataFrame] = {
    val k = key(tag, cacheKey, inputs)
    Option(scratchCache.get(k))
      .filter(_.isDone)
      .flatMap(t => try Some(t.get()) catch {
        case _: Exception => scratchCache.remove(k, t); None
      })
      .map(ParquetRead(s, _))
  }

  /** Snapshot-and-reset the per-tag scratch build seconds accumulated
    * since the previous drain (or JVM start). Removal is the ATOMIC
    * `remove(key)`, not read-then-iterator-remove: a `merge` racing
    * between those two steps would be discarded, its seconds missing from
    * every future drain.
    */
  private[graft] def drainBuildSeconds(): Map[String, Double] = {
    val snap = scala.collection.mutable.Map[String, Double]()
    val it = buildSeconds.keySet().iterator()
    while (it.hasNext) {
      val k = it.next()
      val v = buildSeconds.remove(k)
      if (v != null) snap(k) = v
    }
    snap.toMap
  }

  /** Content fingerprint of `df`'s source files: md5 over each file's
    * (path, length, modificationTime), gathered with ONE listStatus per
    * distinct parent directory (the statuses of all part-files in a dir
    * come back in a single namenode/object-store call — no per-file RPC).
    * Files that vanish between planning and listing hash as absent, which
    * still changes the fingerprint — exactly what invalidation wants.
    */
  private[operators] def inputFingerprint(df: DataFrame): String = {
    val hc = df.sparkSession.sparkContext.hadoopConfiguration
    // normalize through Path: inputFiles says "file:///x", FileStatus says
    // "file:/x" — new Path(...).toString canonicalizes both to the latter
    val paths = df.inputFiles.map(new Path(_))
    val files = paths.map(_.toString).toSet
    val md = java.security.MessageDigest.getInstance("MD5")
    paths.map(_.getParent)
      .distinct.sortBy(_.toString)
      .foreach { parent =>
        val fs = parent.getFileSystem(hc)
        val statuses =
          try fs.listStatus(parent)
          catch { case _: java.io.FileNotFoundException =>
            Array.empty[org.apache.hadoop.fs.FileStatus] }
        statuses.filter(st => files.contains(st.getPath.toString))
          .sortBy(_.getPath.toString)
          .foreach { st =>
            md.update(s"${st.getPath}|${st.getLen}|${st.getModificationTime}\n"
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
      }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Enroll an externally-created scratch directory (e.g. st16's versioned
    * lake) in the shared cleanup: deleted by [[clear]] and the JVM
    * shutdown hook, exactly like [[materialized]]'s tables.
    */
  private[graft] def registerDir(p: String): Unit = scratchDirs.add(p)

  /** Best-effort recursive delete; TRUE iff the dir is verifiably gone.
    * NonFatal, not just IOException: a RuntimeException from Path
    * construction/getFileSystem (malformed URI, missing scheme FS) must
    * not abort the caller — a cleanup helper never gets to kill a query.
    * The one delete for [[clear]], the shutdown hook and
    * [[Checkpoints.release]].
    */
  private[operators] def deleteQuietly(p: String, hc: Configuration)
      : Boolean =
    try {
      val path = new Path(p)
      val fs = path.getFileSystem(hc)
      fs.delete(path, true)
      !fs.exists(path)
    } catch { case NonFatal(_) => false }

  private def deleteQuietly(p: String): Boolean =
    deleteQuietly(p, Option(hadoopConf.get()).getOrElse(new Configuration()))

  /** Delete every scratch table written by [[materialized]] and drop the
    * cache. Safe to call between queries; the next invocation re-writes.
    * A dir whose delete FAILS stays enrolled in [[scratchDirs]] so a later
    * clear (or the shutdown hook) retries it: dropping it on a transient
    * IOException would orphan corpus-sized scratch on shared storage.
    */
  def clear(): Unit = {
    scratchCache.clear()
    scratchDirs.removeIf(p => deleteQuietly(p))
  }

  /** Selective variant: drop only the entries whose TAG satisfies `pred`.
    * Bench uses this to charge each scratch group's build cost to the
    * group's owning query — clearing just that group's tags right before
    * timing the owner, in both passes, so attribution is deterministic
    * regardless of pass order and other groups' scratch stays shared.
    */
  def clear(pred: String => Boolean): Unit = {
    val it = scratchCache.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      // only COMPLETED builds are deleted here: yanking a dir out from
      // under an in-flight write corrupts it — the in-flight dir is
      // already enrolled in scratchDirs, so the end-of-run clear() (or the
      // shutdown hook) still reclaims it
      if (pred(e.getKey._1) && e.getValue.isDone) {
        val p = try e.getValue.get() catch { case _: Exception => null }
        it.remove()
        // tracking is dropped only on a VERIFIED delete — see clear()
        if (p != null && deleteQuietly(p)) scratchDirs.remove(p)
      }
    }
  }

  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    try clear() catch { case _: Exception => () }))
}
