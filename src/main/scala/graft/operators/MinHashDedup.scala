package graft.operators

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{ParquetRead, QuerySuite, Tables}

/** Near-duplicate detection at scale: MinHash+LSH and SimHash over
  * `documents` (builder brief / SURVEY §2.3).
  *
  * Both queries are oracle-gated: the sketches prune candidates, but the
  * emitted result is an exact quantity (exact shingle-Jaccard / exact
  * Hamming distance). SimHash's candidate set is recall-complete by
  * pigeonhole — an exactness GUARANTEE. MinHash banding is inherently
  * probabilistic, so the emitted threshold is set where the miss
  * probability is negligible (below), not at the S-curve's soft midpoint;
  * emitting looser thresholds means adding bands, not reusing this config.
  *
  * Scale notes (100 TB): both pipelines avoid the O(n²) pair space.
  *  - MinHash: shingle → K minhashes (row-local, one-pass codegen kernel) →
  *    banded signatures → shuffle ON (band, band_hash) only — candidate
  *    pairs come from an equi-join, so cost follows bucket sizes, not n².
  *    16 bands × 2 rows put the S-curve midpoint at J≈0.26; a true pair at
  *    the emitted J ≥ 0.8 threshold is missed w.p. (1−J²)¹⁶ ≤ 0.36¹⁶ ≈
  *    8·10⁻⁸, and the planted-dup regime (J ≥ 0.9) w.p. ≤ 3·10⁻¹² — far
  *    below any realistic corpus's pair count, so the exact-oracle gate is
  *    stable. (At the old J ≥ 0.5 emission the per-pair miss rate was ~1%:
  *    a real recall hole AND a gate flake — both fixed by the threshold.)
  *  - SimHash: 64-bit signature via the one-pass row-local
  *    [[graft.functions.SimHashArray]] kernel (no shuffle — the round-1
  *    explode+64-agg formulation shuffled the whole tokenized corpus),
  *    then candidates via equality on any 16-bit chunk. Pigeonhole: the
  *    emitted threshold hamming ≤ 3 < 4 chunks ⇒ some chunk equal ⇒
  *    recall is exactly 100%, so the output equals the exact all-pairs
  *    answer by construction (the recall contract the bound guarantees).
  *
  * Neither query `persist()`s (a session-lifetime cache leak); instead the
  * signature/shingle table is MATERIALIZED TO STORAGE once and every
  * self-join branch reads it back — exactly what a lake deployment does
  * with its signature table. Without this the plan recomputes shingling
  * once per branch (4× for dd02: two band sides + two shingle join-backs).
  */
object MinHashDedup extends QuerySuite {
  private val K = 32       // minhash functions
  private val BANDS = 16   // bands of 2 rows each

  /** Write `df` to a scratch parquet table and read it back: the
    * multi-branch consumers downstream share one computation without any
    * session-lifetime cache.
    *
    * Lifecycle (a long-lived engine session must not accumulate
    * corpus-sized temp tables, and a cluster must be able to read them from
    * every executor):
    *  - the scratch ROOT is `spark.graft.scratch.dir` when set (on a
    *    multi-node cluster: a shared path — HDFS/S3/NFS; all paths go
    *    through the Hadoop FileSystem API, so any supported scheme works),
    *    defaulting to the driver-local java tmpdir, which is only correct
    *    for local mode;
    *  - materializations are CACHED per (tag, cache key, input fingerprint):
    *    re-running dd02 after dd06 reuses the signature tables instead of
    *    re-writing the corpus. The fingerprint covers the source files'
    *    paths, sizes and modification times (one listStatus per distinct
    *    parent dir — no per-file RPC), so a table rewritten in place under
    *    the same path invalidates the entry instead of silently serving
    *    stale results to a long-lived session;
    *  - [[clearScratch]] deletes everything eagerly — call it when the
    *    consuming actions are done (Verify/Bench do); a JVM shutdown hook
    *    backstops sessions that never call it.
    */
  private[operators] def materialized(
      df: DataFrame, tag: String, cacheKey: String,
      fingerprintOf: Seq[DataFrame] = Nil): DataFrame = {
    val s = df.sparkSession
    // A frame whose lineage ends at a localCheckpoint (LogicalRDD) has no
    // inputFiles, so its own fingerprint is a CONSTANT and the cache key
    // degrades to (tag, cacheKey) — a rewritten source table would serve
    // stale results. Iterative callers (connected components, pagerank,
    // BFS) pass their TRUE inputs via `fingerprintOf`; content sensitivity
    // then comes from those frames' source files.
    val fp = (df +: fingerprintOf).map(inputFingerprint).mkString("+")
    val key = (tag, cacheKey + "#" + fp)
    // the corpus-sized WRITE must not run inside computeIfAbsent: the
    // compute holds the map's bin lock for its whole duration, so two
    // concurrent materializations of UNRELATED tags could serialize for
    // minutes on a hash-bin collision (r17 review). computeIfAbsent now
    // only CREATES a FutureTask (cheap, correct same-key dedup); run() is
    // idempotent — the first caller computes, concurrent same-key callers
    // block on get() until the one build finishes.
    val task = scratchCache.computeIfAbsent(key,
      _ => new java.util.concurrent.FutureTask[String](() => {
        val root = new org.apache.hadoop.fs.Path(
          s.conf.getOption("spark.graft.scratch.dir")
            .getOrElse(System.getProperty("java.io.tmpdir")))
        val dir = new org.apache.hadoop.fs.Path(
          root, s"graft_${tag}_${java.util.UUID.randomUUID}")
        val p = dir.toString
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
        case e: java.util.concurrent.ExecutionException =>
          // a failed build must not poison the key forever — the old
          // computeIfAbsent semantics left no mapping behind on failure,
          // so a retry rebuilt; remove(key, task) restores exactly that
          scratchCache.remove(key, task)
          throw e.getCause
      }
    ParquetRead(s, path)
  }

  // Build-cost meter: seconds spent WRITING scratch tables since the last
  // drain, keyed by tag. Bench drains it after each timed query so the
  // scratch-build share of an owner query's wall time is reported
  // separately (`scratch_build_s` in bench_detail.json) instead of
  // silently inflating the owner's number — q59's r9 "regression"
  // (1.7 → 2.7 s) was exactly this attribution artifact.
  private val buildSeconds =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()

  /** Snapshot-and-reset the per-tag scratch build seconds accumulated
    * since the previous drain (or JVM start). Removal is the ATOMIC
    * `remove(key)`, not read-then-iterator-remove: a `merge` racing
    * between those two steps was discarded — its seconds vanished from
    * every future drain, the exact under-attribution the meter exists to
    * prevent (r14 review; unreachable in the single-threaded bench loop,
    * live the moment two queries build scratch concurrently).
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

  /** Cache PEEK for iterative operators: the scratch frame the eventual
    * `materialized(result, tag, cacheKey, fingerprintOf)` call would
    * serve, for a `result` whose lineage ends at a checkpoint (no input
    * files — its own fingerprint contribution is the md5-of-nothing
    * constant). Checked BEFORE the rounds run: the cache used to be
    * consulted only after the eager propagation loop had already executed
    * every iteration, so a repeat invocation saved nothing but the final
    * parquet write (r10 review).
    */
  private[operators] def cachedScratch(s: SparkSession, tag: String,
      cacheKey: String, fingerprintOf: Seq[DataFrame]): Option[DataFrame] = {
    val emptyFp = java.security.MessageDigest.getInstance("MD5")
      .digest().map("%02x".format(_)).mkString
    val fp = (emptyFp +: fingerprintOf.map(inputFingerprint)).mkString("+")
    // non-blocking peek: only a COMPLETED successful build counts as a hit
    // (an in-flight or failed task reads as a miss, and the caller's
    // materialized() then blocks on / replaces it) — matching the old
    // map-of-paths semantics where nothing was visible until the write
    // finished. A completed-but-FAILED task is evicted right here (r17
    // ADVICE): peek-only callers otherwise kept hitting the poisoned
    // entry until some materialized() call happened to remove it.
    val key = (tag, cacheKey + "#" + fp)
    Option(scratchCache.get(key))
      .filter(_.isDone)
      .flatMap(t => try Some(t.get()) catch {
        case _: Exception => scratchCache.remove(key, t); None
      })
      .map(ParquetRead(s, _))
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
    val paths = df.inputFiles.map(new org.apache.hadoop.fs.Path(_))
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

  private val scratchCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), java.util.concurrent.FutureTask[String]]()
  private val scratchDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  // captured at first materialization: the shutdown-hook path must not
  // touch SparkContext.getOrCreate (it could spawn a context mid-shutdown)
  private val hadoopConf =
    new java.util.concurrent.atomic.AtomicReference[
      org.apache.hadoop.conf.Configuration](null)

  /** Enroll an externally-created scratch directory (e.g. st16's versioned
    * lake) in the shared cleanup: deleted by [[clearScratch]] and the JVM
    * shutdown hook, exactly like [[materialized]]'s tables.
    */
  private[graft] def registerScratchDir(p: String): Unit = scratchDirs.add(p)

  /** Best-effort recursive delete; TRUE iff the dir is verifiably gone.
    * One implementation for both clearScratch variants and (through them)
    * the shutdown hook — the hand-copied blocks had already drifted on
    * when tracking was dropped (r11 review).
    */
  private def deleteQuietly(p: String): Boolean = {
    val hc = Option(hadoopConf.get())
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    try {
      val path = new org.apache.hadoop.fs.Path(p)
      val fs = path.getFileSystem(hc)
      fs.delete(path, true)
      !fs.exists(path)
    } catch { case _: Exception => false }
  }

  /** Delete every scratch table written by [[materialized]] and drop the
    * cache. Safe to call between queries; the next invocation re-writes.
    * A dir whose delete FAILS stays enrolled in [[scratchDirs]] so a later
    * clearScratch (or the shutdown hook) retries it — dropping tracking on
    * a transient IOException permanently orphaned corpus-sized scratch on
    * shared storage, defeating the backstop the registration-before-write
    * comment promises (r11 review).
    */
  def clearScratch(): Unit = {
    scratchCache.clear()
    scratchDirs.removeIf(p => deleteQuietly(p))
  }

  /** Selective variant: drop only the entries whose TAG satisfies `pred`.
    * Bench uses this to charge each scratch group's build cost to the
    * group's owning query — clearing just that group's tags right before
    * timing the owner, in both passes, so attribution is deterministic
    * regardless of pass order and other groups' scratch stays shared.
    */
  def clearScratch(pred: String => Boolean): Unit = {
    val it = scratchCache.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      // only COMPLETED builds are deleted here: yanking a dir out from
      // under an in-flight write corrupts it — the in-flight dir is
      // already enrolled in scratchDirs, so the end-of-run clearScratch()
      // (or the shutdown hook) still reclaims it
      if (pred(e.getKey._1) && e.getValue.isDone) {
        val p = try e.getValue.get() catch { case _: Exception => null }
        it.remove()
        // tracking is dropped only on a VERIFIED delete — see clearScratch
        if (p != null && deleteQuietly(p)) scratchDirs.remove(p)
      }
    }
  }

  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    try clearScratch() catch { case _: Exception => () }))

  /** doc_id + distinct 3-word shingles (whole text if shorter than 3 words).
    * `words` is materialized first so the per-shingle lambda slices a column
    * reference — inlining `split` into the lambda re-tokenizes the text once
    * per shingle, turning tokenization O(words) into O(words²) per doc.
    */
  private def shingled(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      // a NULL text has no shingles: split(NULL) is NULL but
      // concat_ws(NULL…) is '' (it never returns null), so every
      // null-text doc got the same one-element [''] shingle set and
      // paired J=1.0 with every other one — while the oracle's
      // list_distinct strips the NULL and emits no pair (r10 review;
      // dd03 already drops such docs convergently on both sides)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .select(col("doc_id"), array_distinct(
        graft.functions.GraftFunctions.word_ngrams(col("words"), 3))
        .as("shingles"))

  /** Near-dup pairs (id1 < id2, exact shingle-Jaccard ≥ `threshold`) with
    * LSH-banded candidate generation — the shared kernel behind dd02
    * (pair listing) and dd06 (cluster assignment).
    *
    * Threshold contract: the fixed 16×2 banding makes recall effectively
    * exact only at `threshold` ≥ 0.8 (per-pair miss ~1e-8); looser values
    * are supported for the Spark kernel with PROBABILISTIC recall (~1%
    * per-pair miss at 0.5 — DedupSpec exercises and documents this), but
    * must NOT be hash-compared against [[shingleCandidatesCteSql]]-based
    * oracles: that CTE's `5*min >= 4*max` length prefilter is derived from
    * J ≥ 0.8 and silently drops qualifying looser pairs. Only the
    * default-threshold dd02/dd11 queries are oracle-gated.
    */
  private[operators] def lshPairs(
      s: SparkSession, dir: String, threshold: Double = 0.8): DataFrame = {
    val sh = materialized(shingled(s, dir), "dd02_shingles", dir)
    val mh = sh.select(col("doc_id"),
      graft.functions.MinHashArray(col("shingles"), K).as("mhs"))
    // (doc_id, band, band-hash): only ids travel through the band shuffle;
    // shingle arrays are joined back per *candidate pair*, not per band.
    // Materialized so the self-join's two sides don't re-minhash the corpus.
    val bands = materialized(
      mh.select(col("doc_id"), explode(array(
        (0 until BANDS).map(j => struct(lit(j).as("band"),
          xxhash64(element_at(col("mhs"), 2 * j + 1),
            element_at(col("mhs"), 2 * j + 2)).as("bh"))): _*)).as("b"))
        .select(col("doc_id"), col("b.band"), col("b.bh")),
      "dd02_bands", dir)
    val cands = bands.select(col("doc_id").as("id1"), col("band"), col("bh"))
      .join(bands.select(col("doc_id").as("id2"), col("band"), col("bh")),
        Seq("band", "bh"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
    val s1 = sh.select(col("doc_id").as("id1"), col("shingles").as("sh1"))
    val s2 = sh.select(col("doc_id").as("id2"), col("shingles").as("sh2"))
    val inter = size(array_intersect(col("sh1"), col("sh2")))
    val jac = inter.cast("double") /
      (size(col("sh1")) + size(col("sh2")) - inter)
    cands.join(s1, "id1").join(s2, "id2")
      .filter(jac >= threshold)
      .select(col("id1"), col("id2"), round(jac, 6).as("jaccard"))
  }

  val queries: Map[String, Q] = ListMap(
    // MinHash + LSH banding prunes candidates; output = exact shingle
    // Jaccard of surviving pairs above threshold (oracle: all-pairs exact).
    "dd02_minhash_lsh" -> ((s, dir) =>
      lshPairs(s, dir)
        .orderBy(desc("jaccard"), asc("id1"), asc("id2"))),

    // Cross-corpus near-dup: the "is this incoming crawl already in my
    // curated set" audit — dd02's pair space restricted to documents from
    // DIFFERENT source groups (src0-9 = curated, src10-19 = incoming).
    // Shares dd02's materialized shingle/band scratch pass; the group
    // predicate joins a (doc_id, group) dimension onto the ids-only
    // candidate output, so conditioning the dedup costs two tiny hash
    // joins, never a re-shingle of either corpus.
    "dd11_cross_corpus_neardup" -> ((s, dir) => {
      // digit-less source = loud error, matching the oracle's failure
      // mode: DuckDB's CAST('' AS INT) aborts, while a bare Spark cast
      // yields null and the g1 =!= g2 filter would SILENTLY drop every
      // pair involving that doc — a divergent result set, not a crash.
      // A NULL source is the one shape BOTH engines agree to drop
      // (DuckDB's CAST(NULL AS INT) is NULL, no abort): an unclassifiable
      // doc belongs to neither corpus, so its pairs leave the result —
      // the ev03/tx09 null-key family contract, now EXPLICIT rather than
      // an accident of null-propagation through the === guard (r15
      // review: `when(srcNum === "")` null-skips the raise branch, which
      // read as a guard hole rather than a decision)
      val srcNum = regexp_extract(col("source"), "\\d+", 0)
      val grp = Tables(s, dir, "documents").select(col("doc_id"),
        (when(col("source").isNull, lit(null).cast("string"))
          .when(srcNum === "", raise_error(concat(
            lit("dd11: source without digits: "), col("source"))))
          .otherwise(srcNum).cast("int") < 10)
          .as("curated"))
      lshPairs(s, dir)
        .join(grp.select(col("doc_id").as("id1"), col("curated").as("g1")),
          "id1")
        .join(grp.select(col("doc_id").as("id2"), col("curated").as("g2")),
          "id2")
        .filter(col("g1") =!= col("g2"))
        .select(col("id1"), col("id2"), col("jaccard"))
        .orderBy(desc("jaccard"), asc("id1"), asc("id2"))
    }),

    // SimHash: one-pass row-local signature, candidates by 16-bit chunk
    // equality, output = exact pairs at hamming ≤ 3 (recall 100% by
    // pigeonhole — oracle: all-pairs exact Hamming).
    "dd03_simhash" -> ((s, dir) => {
      // materialized: both sides of the chunk self-join share one signature
      // computation (the lake's persisted signature table)
      val sigs = materialized(
        Tables(s, dir, "documents")
          .select(col("doc_id"),
            graft.functions.SimHashArray(split(col("text"), " ")).as("sig")),
        "dd03_sigs", dir)
      val chunks = sigs.select(col("doc_id"), col("sig"), explode(array(
        (0 until 4).map(i => struct(lit(i).as("chunk"),
          shiftright(col("sig"), 16 * i).bitwiseAND(0xFFFFL).as("cv"))): _*))
        .as("c"))
        .select(col("doc_id"), col("sig"), col("c.chunk"), col("c.cv"))
      val a = chunks.select(col("doc_id").as("id1"), col("sig").as("sig1"),
        col("chunk"), col("cv"))
      val b = chunks.select(col("doc_id").as("id2"), col("sig").as("sig2"),
        col("chunk"), col("cv"))
      a.join(b, Seq("chunk", "cv")).filter(col("id1") < col("id2"))
        .select(col("id1"), col("id2"),
          expr("cast(bit_count(sig1 ^ sig2) as int)").as("hamming"))
        .distinct()
        .filter(col("hamming") <= 3)
        .orderBy(asc("hamming"), asc("id1"), asc("id2"))
    }),
  )

  /** Shared oracle prefix for every exact-Jaccard oracle (dd02/dd11 here;
    * dd06/tx16/dd13 in [[DedupClusters]]): shingle sets, then CANDIDATE
    * pairs keyed on a shared shingle with an exact integer length
    * prefilter. Semantically identical to the old all-pairs join — J(A,B)
    * >= 0.8 > 0 implies at least one shared shingle AND 5*min(|A|,|B|) >=
    * 4*max(|A|,|B|) (J <= min/max) — but the oracle engine now touches
    * only pairs that can qualify instead of |docs|^2/2: the sf0.1 sweep
    * measured 660 s -> 37 s for dd02. The same candidates-not-cross-join
    * discipline the Spark side has always used, applied to the oracle.
    */
  // sh/cand are MATERIALIZED: every consumer references sh three times
  // (ex + both sides of the Jaccard join) and DuckDB's default re-INLINES
  // a CTE per reference, re-running the full shingle construction each
  // time — the same blowup class the embedding pairs CTE hit at ladder
  // scale (SimilarityOps.nearDupPairsCteSqlFor). A hint only: identical
  // result set.
  private[operators] val shingleCandidatesCteSql: String =
    """w AS (SELECT doc_id, string_split(text, ' ') AS words
      |    FROM documents),
      | sh AS MATERIALIZED (SELECT doc_id, list_distinct(list_transform(
      |     range(1, greatest(len(words) - 2, 1) + 1),
      |     i -> array_to_string(list_slice(words, i, i + 2), ' '))) AS sh
      |   FROM w),
      | ex AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS g FROM sh),
      | cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      |   FROM ex a JOIN ex b ON b.g = a.g AND b.doc_id > a.doc_id
      |   WHERE b.n * 5 >= a.n * 4 AND a.n * 5 >= b.n * 4)""".stripMargin

  /** Exact candidate-keyed equivalents — the Spark queries produce the same
    * result through the sketch-pruned (scalable) path.
    */
  val oracle: Map[String, String] = ListMap(
    "dd02_minhash_lsh" ->
      s"""WITH $shingleCandidatesCteSql
         |SELECT c.id1, c.id2,
         | ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |   / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
         |   AS jaccard
         |FROM cand c JOIN sh a ON a.doc_id = c.id1
         | JOIN sh b ON b.doc_id = c.id2
         |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |   / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8
         |ORDER BY jaccard DESC, id1, id2""".stripMargin,

    // dd02's exact candidate-keyed oracle with the cross-group predicate.
    "dd11_cross_corpus_neardup" ->
      s"""WITH $shingleCandidatesCteSql,
         | g AS (SELECT doc_id,
         |     CAST(regexp_extract(source, '[0-9]+') AS INT) < 10 AS curated
         |   FROM documents)
         |SELECT c.id1, c.id2,
         | ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |   / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
         |   AS jaccard
         |FROM cand c JOIN sh a ON a.doc_id = c.id1
         | JOIN sh b ON b.doc_id = c.id2
         | JOIN g ga ON ga.doc_id = c.id1
         | JOIN g gb ON gb.doc_id = c.id2
         |WHERE ga.curated <> gb.curated
         | AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |   / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8
         |ORDER BY jaccard DESC, id1, id2""".stripMargin,

    "dd03_simhash" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        | h AS (
        |  SELECT doc_id, CAST('0x' || substr(md5(w), 1, 16) AS UBIGINT) AS h
        |  FROM tok),
        | bits AS (
        |  SELECT doc_id, b, SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM h CROSS JOIN range(0, 64) t(b) GROUP BY doc_id, b),
        | sig AS (
        |  SELECT doc_id,
        |   SUM(CASE WHEN s > 0 THEN 1::UBIGINT << b ELSE 0::UBIGINT END) AS sig
        |  FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        | CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
        |FROM sig a JOIN sig b ON b.doc_id > a.doc_id
        |WHERE bit_count(xor(a.sig, b.sig)) <= 3
        |ORDER BY hamming, id1, id2""".stripMargin,
  )
}
