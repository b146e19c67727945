package graft.operators

import java.util.Arrays

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.{QuerySuite, Tables}

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
  * Below [[LocalPairs]]' caps dd02 joins its bands on the driver instead,
  * from one pass, and materializes nothing.
  */
object MinHashDedup extends QuerySuite {
  private val K = 32       // minhash functions
  private val BANDS = 16   // bands of 2 rows each

  /** The old name of [[Scratch.clear]], kept for the perfbench harness;
    * code under `src/` calls [[Scratch.clear]].
    */
  def clearScratch(): Unit = Scratch.clear()

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

  /** The 16 band hashes of a minhash column: band j hashes minhashes
    * 2j+1 and 2j+2. The one banding, shared by both paths of [[lshPairs]].
    */
  private def bandHashes(mhs: Column): Seq[Column] =
    (0 until BANDS).map(j =>
      xxhash64(element_at(mhs, 2 * j + 1), element_at(mhs, 2 * j + 2)))

  /** Driver heap per collected document: its shingle row (~1.5 KB at the
    * fixtures' ~55 words), the sorted shingle references and the band
    * keys, with room for documents a few times that length.
    */
  private val BytesPerDoc = 16384L

  /** Near-dup pairs (id1 < id2, exact shingle-Jaccard ≥ `threshold`) with
    * LSH-banded candidate generation — the shared kernel behind dd02
    * (pair listing) and dd06 (cluster assignment).
    *
    * Two paths with one answer. A corpus within the [[LocalPairs]] caps
    * with unique, non-null integral ids is collected once with its shingles
    * and band hashes, bucketed and verified on the driver, and no scratch
    * table is written. Any other corpus runs the distributed form: the
    * shingles and the band table materialized to scratch, a self-join on
    * (band, band-hash), and the shingles joined back per candidate pair.
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
    val docs = shingled(s, dir)
      .select(col("doc_id"), col("shingles"),
        graft.functions.MinHashArray(col("shingles"), K).as("mhs"))
      .select(col("doc_id"), array(bandHashes(col("mhs")): _*).as("bh"),
        col("shingles"))
    LocalPairs(docs, BytesPerDoc, "jaccard") { rows =>
      // each shingle set sorted by bytes, the order array_intersect's
      // binary equality agrees with; the sets are distinct already
      val sh = rows.map { r =>
        val a = r.getArray(2)
        val xs = Array.tabulate(a.numElements())(a.getUTF8String)
        Arrays.sort(xs, (p: UTF8String, q: UTF8String) => p.compareTo(q))
        xs
      }
      Some { (i, j) =>
        val inter = common(sh(i), sh(j))
        // Spark's arithmetic: an int denominator widened to double
        val jac = inter.toDouble / (sh(i).length + sh(j).length - inter)
        if (jac >= threshold) LocalPairs.round(jac) else Double.NaN
      }
    }.getOrElse(distributedPairs(s, dir, threshold))
  }

  /** Elements two sorted, distinct arrays share. */
  private def common(a: Array[UTF8String], b: Array[UTF8String]): Int = {
    var (x, y, n) = (0, 0, 0)
    while (x < a.length && y < b.length) {
      val c = a(x).compareTo(b(y))
      if (c <= 0) x += 1
      if (c >= 0) y += 1
      if (c == 0) n += 1
    }
    n
  }

  /** [[lshPairs]] on the cluster. */
  private def distributedPairs(
      s: SparkSession, dir: String, threshold: Double): DataFrame = {
    val sh = Scratch.materialized(shingled(s, dir), "dd02_shingles", dir)
    val mh = sh.select(col("doc_id"),
      graft.functions.MinHashArray(col("shingles"), K).as("mhs"))
    // (doc_id, band, band-hash): only ids travel through the band shuffle;
    // shingle arrays are joined back per *candidate pair*, not per band.
    // Materialized so the self-join's two sides don't re-minhash the corpus.
    val bands = Scratch.materialized(
      mh.select(col("doc_id"), posexplode(array(bandHashes(col("mhs")): _*))
        .as(Seq("band", "bh"))),
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
      val sigs = Scratch.materialized(
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
