package graft.operators

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QuerySuite, Tables}

/** Text-analysis + document-dedup operators over the `documents` table — the
  * training-data-pipeline surface (builder brief; SURVEY.md §2.3 / §7.1 M4).
  *
  * Everything here is built from codegen'd `functions._` / higher-order array
  * functions — no UDFs — so whole-stage codegen covers the hot path and the
  * same logic is expressible in the DuckDB oracle dialect.
  *
  * Scale notes (100 TB): all row-local (narrow) transformations except the
  * dedup group-bys, which shuffle on the dedup key (full text / hash) with
  * map-side partial aggregation. Word-level Jaccard is bounded to a window of
  * candidate pairs (id delta ≤ 20) — the unbounded version is MinHash-LSH in
  * [[MinHashDedup]], whose band join is the scalable path.
  */
object TextOps extends QuerySuite {
  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  /** The bounded-candidate word-set pair frame dd04 (Jaccard) and dd12
    * (containment) share — ONE definition of the window bound, id cutoff
    * and tokenization, so the two documented-as-same-shape operators
    * cannot silently desynchronize. Each id emits its 20 candidate
    * partner ids (offset explode — ids only, never the word arrays), the
    * pair list equi-joins existence, and the word sets join back per
    * surviving pair; a range-predicate join here would plan as a
    * BroadcastNestedLoopJoin, the thing that cannot scale. Returns the
    * joined pair frame (id1, id2, w1, w2) and the shared |w1 ∩ w2| column.
    */
  private def wordSetPairs(s: SparkSession, dir: String)
      : (DataFrame, Column) = {
    val w = docs(s, dir).filter(col("doc_id") < 100)
      .select(col("doc_id"),
        array_distinct(split(lower(col("text")), " ")).as("w"))
    val candidates = w.select(col("doc_id").as("id1"),
      explode(sequence(lit(1), lit(20))).as("k"))
      .select(col("id1"), (col("id1") + col("k")).as("id2"))
    val a = w.select(col("doc_id").as("id1"), col("w").as("w1"))
    val b = w.select(col("doc_id").as("id2"), col("w").as("w2"))
    (candidates.join(b, "id2").join(a, "id1"),
      size(array_intersect(col("w1"), col("w2"))))
  }

  /** Stopword markers; also the language-ID vote lists. */
  private val enWords = Seq("the", "a", "of", "and", "to", "in", "is", "on")
  private val esWords = Seq("el", "la", "de", "y", "que", "en")
  private val deWords = Seq("der", "die", "und", "ein", "zu", "mit")

  private def litArray(ws: Seq[String]): Column = array(ws.map(lit): _*)
  private def hitCount(words: Column, ws: Seq[String]): Column =
    size(filter(words, w => array_contains(litArray(ws), w)))
  private def sqlList(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("[", ", ", "]")

  /** ONE definition each of the quality-score formula, the language vote,
    * and the canonical fingerprint — tx02/tx03/tx04 used to restate them
    * inline (and the drift hazard is real: a weight tweak here must reach
    * every consumer or two "same-formula" queries silently diverge, the
    * exact failure mode the [[wordSetPairs]] comment documents).
    */
  private def qualityScore(words: Column): Column = {
    val nWords = size(words)
    round(least(lit(1.0), nWords.cast("double") / 200) * 0.5
      + (hitCount(words, enWords).cast("double") / nWords) * 0.5, 6)
  }

  /** Marker-word vote over LOWERCASED words; tie order en > es > de. */
  private def langVote(lowWords: Column): Column = {
    val en = hitCount(lowWords, enWords)
    val es = hitCount(lowWords, esWords)
    val de = hitCount(lowWords, deWords)
    when(en >= es && en >= de, "en").when(es >= de, "es").otherwise("de")
  }

  /** Whitespace/case-canonical text fingerprint (tx04, tx07/st05; also
    * dd10's incremental-dedup key in [[LakeOps]]).
    */
  private[operators] def canonFp: Column =
    md5(regexp_replace(lower(col("text")), "[ \\t\\n\\f\\r]+", " "))

  /** The tx07 cleaning gates as one row-local stage: quality score +
    * language vote + whitespace-canonical fingerprint, filtered to
    * good-quality English. Shared by the batch pipeline (tx07) and its
    * streaming twin (st05) so both provably run the same expressions.
    */
  private[graft] def scoredEnglish(df: DataFrame): DataFrame =
    df.withColumn("quality_score", qualityScore(split(col("text"), " ")))
      .withColumn("pred_lang", langVote(split(lower(col("text")), " ")))
      .filter(col("pred_lang") === "en" && col("quality_score") >= 0.12)
      .withColumn("fp", canonFp)

  val queries: Map[String, Q] = ListMap(
    // Exact dedup: hash-groupBy on full text; survivor = min doc_id.
    "dd01_dedup_exact" -> ((s, dir) => {
      docs(s, dir).groupBy("text")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .select(col("keep_id"), col("n_copies"), md5(col("text")).as("text_md5"))
        .orderBy("keep_id")
    }),

    // Word-set Jaccard over a bounded candidate window (oracle-checkable
    // flavor of n-gram Jaccard; the LSH-scaled variant is dd02). The
    // window join is EQUI, not a nested loop: each id emits its 20
    // candidate partner ids (offset explode — ids only, never the word
    // arrays), the pair list equi-joins existence, and the word sets join
    // back per surviving pair. A range-predicate join here plans as a
    // BroadcastNestedLoopJoin — broadcast of a whole table side, the thing
    // that cannot scale.
    "dd04_word_jaccard" -> ((s, dir) => {
      val (pairs, inter) = wordSetPairs(s, dir)
      pairs
        .select(col("id1"), col("id2"),
          round(inter.cast("double")
            / (size(col("w1")) + size(col("w2")) - inter), 6).as("jaccard"))
        .orderBy("id1", "id2")
    }),

    // Asymmetric CONTAINMENT |A∩B| / |A| over the bounded candidate window
    // — near-dup Jaccard (dd04) misses partial copies: a short doc quoted
    // verbatim inside a long one has low Jaccard but containment ≈ 1.
    // Emitted when either direction clears 0.5; same offset-explode
    // equi-join shape as dd04 (ids only, word sets join back per pair).
    "dd12_containment" -> ((s, dir) => {
      val (pairs, inter) = wordSetPairs(s, dir)
      pairs
        .select(col("id1"), col("id2"),
          round(inter.cast("double") / size(col("w1")), 6).as("contain_1in2"),
          round(inter.cast("double") / size(col("w2")), 6).as("contain_2in1"))
        .filter(col("contain_1in2") >= 0.5 || col("contain_2in1") >= 0.5)
        .orderBy("id1", "id2")
    }),

    // Token counting: whitespace tokens + a BPE-ish regex tokenizer.
    "tx01_token_counts" -> ((s, dir) => {
      docs(s, dir).select(col("doc_id"),
        size(split(col("text"), " ")).as("ws_tokens"),
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
          .as("re_tokens"),
        length(col("text")).as("n_chars_measured"))
        .orderBy("doc_id")
    }),

    // Quality scoring: length / stopword-ratio / punctuation-ratio heuristic.
    "tx02_quality" -> ((s, dir) => {
      val words = split(col("text"), " ")
      val nWords = size(words)
      val nStop = hitCount(words, enWords)
      val punct = length(regexp_replace(col("text"), "[^.!?,;]", ""))
      docs(s, dir).select(col("doc_id"),
        nWords.as("n_words"),
        nStop.as("n_stopwords"),
        // nWords needs no guard (split('', ' ') = ['']: size >= 1), but
        // length('') = 0 and Spark 4's default ANSI mode THROWS on
        // double/0 where the oracle yields NULL — an empty document must
        // not kill the job (r14 review; the qualityFeatures nullif
        // convention)
        round(nStop.cast("double") / nWords, 6).as("stop_ratio"),
        round(punct.cast("double") /
          nullif(length(col("text")), lit(0)), 6).as("punct_ratio"),
        qualityScore(words).as("quality_score"))
        .orderBy("doc_id")
    }),

    // Language ID: marker-word voting (n-gram heuristic, unigram flavor).
    "tx03_langid" -> ((s, dir) => {
      val words = split(lower(col("text")), " ")
      val en = hitCount(words, enWords)
      val es = hitCount(words, esWords)
      val de = hitCount(words, deWords)
      docs(s, dir).select(col("doc_id"),
        en.as("en_hits"), es.as("es_hits"), de.as("de_hits"),
        langVote(words).as("pred_lang"),
        col("lang").as("labeled_lang"))
        .orderBy("doc_id")
    }),

    // Corpus cleaning END TO END: the tx02 quality gate, the tx03 language
    // gate, and dd01's exact dedup COMPOSED into one declarative plan — the
    // shape of a real training-data filter chain. One scan feeds all three
    // row-local stages; the only shuffle is the final dedup groupBy.
    "tx07_clean_corpus" -> ((s, dir) => {
      scoredEnglish(docs(s, dir))
        .groupBy("fp")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"),
          max("quality_score").as("quality_score"))
        .select(col("keep_id"), col("n_copies"), col("quality_score"), col("fp"))
        .orderBy("keep_id")
    }),

    // Document fingerprint: canonicalize whitespace+case, then hash.
    "tx04_fingerprint" -> ((s, dir) => {
      docs(s, dir).select(col("doc_id"), canonFp.as("fp"))
        .orderBy("doc_id")
    }),

    // Stratified sampling: a fixed per-language quota, deterministically —
    // the k smallest md5(id) per stratum (hash order makes the sample
    // stable across runs/partitionings; training pipelines need
    // reproducible subsets). NO per-stratum window: the bounded
    // [[graft.functions.BottomKPerKey]] aggregator partial-aggregates, so
    // each map task ships ≤ k rows per stratum and no stratum is ever
    // co-located on one reducer (the window formulation is a
    // one-task-per-language wall at 100 TB). The array position of each
    // survivor IS the rank the window would have produced.
    "tx08_stratified_sample" -> ((s, dir) => {
      val sample = graft.functions.BottomKPerKey.bottomK(20)
      docs(s, dir)
        .select(col("lang"), md5(col("doc_id").cast("string")).as("h"),
          col("doc_id"))
        .groupBy("lang")
        .agg(sample(col("h"), col("doc_id")).as("picks"))
        .select(col("lang"), posexplode(col("picks")).as(Seq("pos", "e")))
        .select(col("e._2").as("doc_id"), col("lang"),
          (col("pos") + 1).cast("int").as("rk"))
        .orderBy("lang", "rk")
    }),

    // Sequence packing: group documents into fixed token-budget packs (the
    // shape of training-batch assembly). Deterministic greedy-by-order
    // packing: running token sum per language in doc_id order, pack id =
    // floor(cumulative-before / budget). HIERARCHICAL two-level prefix sum,
    // not one global window per language (which lands a whole stratum on a
    // single reducer): (1) running sum WITHIN bounded (lang, shard) groups
    // — shard = doc_id range, so each window partition holds ≤ shardSize
    // rows; (2) per-shard token totals (tiny aggregate) prefix-summed per
    // language and broadcast-joined back as the shard's starting offset.
    // offset + within-shard cum == the exact global running sum, bit-equal
    // to the single-window formulation the oracle runs.
    "tx09_sequence_pack" -> ((s, dir) => {
      val budget = 2000L
      val shardSize = 4096L
      val toks = docs(s, dir)
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .withColumn("shard", floor(col("doc_id") / shardSize))
      val within = Window.partitionBy(col("lang"), col("shard"))
        .orderBy(asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // per-(lang, shard) totals: O(#shards) rows — the "tiny second
      // aggregation"; its prefix window runs over shard counts, not rows
      val offsets = toks.groupBy("lang", "shard")
        .agg(sum("n_tokens").as("shard_tokens"))
        .withColumn("offset",
          coalesce(sum(col("shard_tokens")).over(
            Window.partitionBy(col("lang")).orderBy(asc("shard"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("lang"), col("shard"), col("offset"))
      // null-SAFE join back: the oracle's PARTITION BY lang keeps a NULL
      // lang as its own partition, but a plain equi-join (lang = lang)
      // never matches NULL and silently dropped those docs from the
      // packing (r14 review; fixture-dormant)
      val o = offsets.withColumnsRenamed(
        Map("lang" -> "o_lang", "shard" -> "o_shard"))
      toks
        .withColumn("cum_in_shard", sum(col("n_tokens")).over(within))
        .join(broadcast(o),
          col("lang") <=> col("o_lang") && col("shard") <=> col("o_shard"))
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          floor((col("offset") + col("cum_in_shard") - col("n_tokens"))
            / budget).as("pack_id"))
        .orderBy("doc_id")
    }),

    // Text normalization: strip markup-ish tags, collapse whitespace, trim,
    // then Unicode NFC canonical composition — the canonicalization pass
    // that precedes tokenization/fingerprinting in a real corpus pipeline
    // (é-as-one-codepoint vs e+combining-acute must dedup together). Fully
    // row-local, zero shuffle; NFC is the native codegen'd
    // [[graft.functions.NfcNormalize]] with an already-normalized (ASCII)
    // fast path, mirrored exactly by DuckDB's nfc_normalize.
    "tx13_normalize" -> ((s, dir) => {
      val stripped = trim(regexp_replace(
        regexp_replace(col("text"), "<[^>]+>", " "), "[ \\t\\n\\f\\r]+", " "))
      docs(s, dir)
        .select(col("doc_id"),
          graft.functions.GraftFunctions.nfc_normalize(stripped)
            .as("norm_text"))
        .select(col("doc_id"), md5(col("norm_text")).as("norm_md5"),
          length(col("norm_text")).as("norm_len"))
        .orderBy("doc_id")
    }),

    // Vocabulary building: corpus-wide token frequencies, top 50.
    "tx05_vocabulary" -> ((s, dir) => {
      docs(s, dir)
        .select(explode(split(lower(col("text")), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("w"))
        .limit(50)
    }),

    // Length distribution: 100-char histogram buckets over the corpus.
    "tx06_length_hist" -> ((s, dir) => {
      docs(s, dir)
        .groupBy((floor(col("n_chars") / 100) * 100).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(length(col("text"))), 4).as("avg_measured"))
        .orderBy("bucket")
    }),

    // Model-based quality filter: the fasttext-classifier stage of a
    // training-data pipeline, with the trained weights pinned as integer
    // constants. Features (stopword density, punctuation density, capped
    // length) are scaled to exact integer micros and the linear score is a
    // fixed-point dot product — row-local, one scan, zero shuffles before
    // the presentation sort, and bit-identical in any engine (the float
    // sigmoid is monotone, so thresholding the integer logit IS
    // thresholding the probability).
    "tx17_quality_model" -> ((s, dir) =>
      qualityFeatures(s, dir)
        .withColumn("keep", (col("logit") > 0L).cast("int"))
        .orderBy("doc_id")),

    // BPE encoding with a PINNED merge table — the tokenizer-application
    // stage: lowercase/strip, mark word boundaries with '_', explode to a
    // space-separated char stream, then apply the 8 merge rules IN RANK
    // ORDER (each merge rewrites all current occurrences — exactly how a
    // trained BPE's greedy merge loop applies its table). Every step is a
    // codegen'd string function, row-local, one scan; a production
    // tokenizer differs only in merge-table size. Capped to the first 64
    // clean chars per doc so token strings stay bounded.
    "tx19_bpe_encode" -> ((s, dir) => {
      val clean = regexp_replace(
        substring(regexp_replace(lower(col("text")), "[^a-z ]", ""), 1, 64),
        " +", " ")
      val marked = translate(trim(clean), " ", "_")
      val chars = trim(regexp_replace(marked, "(.)", "$1 "))
      // merge rules are literal token pairs, never regexes: quote both
      // sides so a future rule containing a metacharacter ('.', '+', '$')
      // behaves identically to the oracle's literal replace()
      val encoded = bpeMerges.foldLeft(chars) { case (c, (from, to)) =>
        regexp_replace(c, java.util.regex.Pattern.quote(from),
          java.util.regex.Matcher.quoteReplacement(to))
      }
      docs(s, dir)
        .select(col("doc_id"), encoded.as("enc"))
        .select(col("doc_id"),
          size(split(col("enc"), " ")).as("n_tokens"),
          array_join(slice(split(col("enc"), " "), 1, 10), "|")
            .as("head_tokens"))
        .orderBy("doc_id")
    }),

    // Inverted-index build — the search-index / corpus-lookup artifact:
    // term → document frequency + a BOUNDED posting sample (the 20
    // smallest doc_ids). df comes from an ordinary count over distinct
    // (term, doc) pairs; the sample rides [[graft.functions.BottomKPerKey]]
    // so each map task ships ≤ 20 postings per term — a hot stopword's
    // full posting list (millions of docs at corpus scale) is never
    // collected or co-located. Emitted terms are bounded to df ≥ 50 (the
    // index head); doc_ids are zero-padded so the aggregator's string
    // order IS numeric order.
    "tx18_inverted_index" -> ((s, dir) => {
      val sample = graft.functions.BottomKPerKey.bottomK(20)
      docs(s, dir)
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
        .distinct()
        .groupBy("w")
        .agg(count(lit(1)).as("df"),
          // 19-digit pad covers the FULL positive Long range, so the
          // aggregator's string order is numeric order for every legal id
          // (a 12-digit pad silently mis-sorts ids >= 10^12); negative ids
          // would break any zero-pad scheme, so they fail loudly
          sample(
            when(col("doc_id") >= 0, format_string("%019d", col("doc_id")))
              .otherwise(raise_error(lit("tx18: negative doc_id"))),
            col("doc_id")).as("picks"))
        .filter(col("df") >= 50L)
        .select(col("w"), col("df"),
          array_join(transform(col("picks"), e => e.getField("_2")), ",")
            .as("sample_postings"))
        .orderBy("w")
    }),
  )

  /** tx19's pinned BPE merge table, applied in rank order (first rule =
    * highest-rank pair, as a trained tokenizer's merges file is ordered).
    * '_' is the word-boundary marker.
    *
    * The table is chosen PREFIX-COLLISION-FREE: for every rule, its
    * pattern's right char is not the first char of any earlier rule's
    * output token, and its left char is not the last char of one — so a
    * flat-string replace over the space-separated stream can only ever
    * match a genuine (token, token) pair, never reach inside a fused
    * token (e.g. a "_ t" rule would falsely match the "_ th" pair). That
    * property makes the SQL-function formulation EXACTLY the token-pair
    * merge loop; a production-size table without the property needs the
    * pair loop as a kernel instead.
    */
  private val bpeMerges: Seq[(String, String)] = Seq(
    "t h" -> "th", "i n" -> "in", "a n" -> "an", "e r" -> "er",
    "o n" -> "on", "e n" -> "en", "o r" -> "or", "_ w" -> "_w")

  /** tx17's integer-micros feature frame + fixed-point logit —
    * (doc_id, stop_micro, punct_micro, len_cap, logit), all row-local.
    * Shared by the tx17 query and the quality-based dedup survivor pick
    * (dd13), which keeps the HIGHEST-logit member of each near-dup
    * cluster instead of the smallest id.
    */
  private[operators] def qualityFeatures(
      s: SparkSession, dir: String): DataFrame = {
    val words = split(col("text"), " ")
    val nw = size(words).cast("long")
    val ns = hitCount(words, enWords).cast("long")
    val np = length(regexp_replace(col("text"), "[^.!?,;]", "")).cast("long")
    docs(s, dir)
      .select(col("doc_id"), nw.as("nw"), ns.as("ns"), np.as("np"),
        col("n_chars"))
      .select(col("doc_id"),
        expr("(ns * 1000000) div nw").as("stop_micro"),
        // nullif: an empty doc (n_chars = 0) must yield NULL like the
        // oracle's DuckDB `// 0`, not an ANSI DIVIDE_BY_ZERO that kills
        // the whole tx17/dd13 job (nw needs no guard — split('') is [''],
        // so nw >= 1 on both engines)
        expr("(np * 1000000) div nullif(n_chars, 0)").as("punct_micro"),
        least(col("nw"), lit(500L)).as("len_cap"))
      .withColumn("logit",
        lit(-800000L) + lit(3L) * col("stop_micro")
          - lit(2L) * col("punct_micro") + lit(1000L) * col("len_cap"))
  }

  /** The same logit as DuckDB CTEs ending in `ql(doc_id, logit)` — spliced
    * into the dd13 oracle exactly as [[scoredCteSql]] is into tx07/st05's.
    */
  private[graft] val qualityLogitCteSql: String = {
    val stop = sqlList(enWords)
    s"""qf AS (SELECT doc_id,
       |   CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
       |   CAST(len(list_filter(string_split(text, ' '),
       |     w -> list_contains($stop, w))) AS BIGINT) AS ns,
       |   CAST(LENGTH(regexp_replace(text, '[^.!?,;]', '', 'g')) AS BIGINT)
       |     AS np,
       |   n_chars FROM documents),
       | qm AS (SELECT doc_id,
       |   (ns * 1000000) // nw AS stop_micro,
       |   (np * 1000000) // nullif(n_chars, 0) AS punct_micro,
       |   LEAST(nw, 500) AS len_cap FROM qf),
       | ql AS (SELECT doc_id,
       |   -800000 + 3 * stop_micro - 2 * punct_micro + 1000 * len_cap
       |     AS logit FROM qm)""".stripMargin
  }

  /** DuckDB form of [[scoredEnglish]]'s scoring stage (before the gates) —
    * shared by the tx07 oracle and the streaming st05 oracle.
    */
  private[graft] val scoredCteSql: String = {
    val stop = sqlList(enWords)
    def h(l: Seq[String]) =
      s"len(list_filter(string_split(lower(text), ' '), w -> list_contains(${sqlList(l)}, w)))"
    s""" SELECT doc_id, text,
       |  ROUND(LEAST(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 200) * 0.5
       |   + (CAST(len(list_filter(string_split(text, ' '),
       |        w -> list_contains($stop, w))) AS DOUBLE)
       |      / len(string_split(text, ' '))) * 0.5, 6) AS quality_score,
       |  CASE WHEN ${h(enWords)} >= ${h(esWords)} AND ${h(enWords)} >= ${h(deWords)}
       |    THEN 'en' WHEN ${h(esWords)} >= ${h(deWords)} THEN 'es' ELSE 'de' END
       |    AS pred_lang
       | FROM documents""".stripMargin
  }

  val oracle: Map[String, String] = ListMap(
    "dd01_dedup_exact" ->
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies, md5(text) AS text_md5
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,

    "dd04_word_jaccard" ->
      """WITH t AS (SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS w
        |  FROM documents WHERE doc_id < 100)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        | ROUND(CAST(len(list_intersect(a.w, b.w)) AS DOUBLE)
        |   / (len(a.w) + len(b.w) - len(list_intersect(a.w, b.w))), 6) AS jaccard
        |FROM t a JOIN t b ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 20
        |ORDER BY id1, id2""".stripMargin,

    "dd12_containment" ->
      """WITH t AS (SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS w
        |  FROM documents WHERE doc_id < 100)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        | ROUND(CAST(len(list_intersect(a.w, b.w)) AS DOUBLE) / len(a.w), 6)
        |   AS contain_1in2,
        | ROUND(CAST(len(list_intersect(a.w, b.w)) AS DOUBLE) / len(b.w), 6)
        |   AS contain_2in1
        |FROM t a JOIN t b ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 20
        |WHERE ROUND(CAST(len(list_intersect(a.w, b.w)) AS DOUBLE) / len(a.w), 6)
        |   >= 0.5
        |   OR ROUND(CAST(len(list_intersect(a.w, b.w)) AS DOUBLE) / len(b.w), 6)
        |   >= 0.5
        |ORDER BY id1, id2""".stripMargin,

    "tx01_token_counts" ->
      """SELECT doc_id,
        | CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
        | CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT)
        |   AS re_tokens,
        | CAST(LENGTH(text) AS INT) AS n_chars_measured
        |FROM documents ORDER BY doc_id""".stripMargin,

    "tx02_quality" -> {
      val stop = sqlList(enWords)
      s"""SELECT doc_id,
         | CAST(len(string_split(text, ' ')) AS INT) AS n_words,
         | CAST(len(list_filter(string_split(text, ' '),
         |   w -> list_contains($stop, w))) AS INT) AS n_stopwords,
         | ROUND(CAST(len(list_filter(string_split(text, ' '),
         |     w -> list_contains($stop, w))) AS DOUBLE)
         |   / len(string_split(text, ' ')), 6) AS stop_ratio,
         | ROUND(CAST(LENGTH(regexp_replace(text, '[^.!?,;]', '', 'g')) AS DOUBLE)
         |   / LENGTH(text), 6) AS punct_ratio,
         | ROUND(
         |   LEAST(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 200) * 0.5
         |   + (CAST(len(list_filter(string_split(text, ' '),
         |        w -> list_contains($stop, w))) AS DOUBLE)
         |      / len(string_split(text, ' '))) * 0.5, 6) AS quality_score
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "tx03_langid" -> {
      def h(l: Seq[String]) =
        s"len(list_filter(string_split(lower(text), ' '), w -> list_contains(${sqlList(l)}, w)))"
      s"""SELECT doc_id,
         | CAST(${h(enWords)} AS INT) AS en_hits,
         | CAST(${h(esWords)} AS INT) AS es_hits,
         | CAST(${h(deWords)} AS INT) AS de_hits,
         | CASE WHEN ${h(enWords)} >= ${h(esWords)} AND ${h(enWords)} >= ${h(deWords)}
         |   THEN 'en' WHEN ${h(esWords)} >= ${h(deWords)} THEN 'es' ELSE 'de' END
         |   AS pred_lang,
         | lang AS labeled_lang
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "tx04_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(text), '[ \t\n\f\r]+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "tx07_clean_corpus" ->
      s"""WITH scored AS ($scoredCteSql)
         |SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies,
         | MAX(quality_score) AS quality_score,
         | md5(regexp_replace(lower(text), '[ \t\n\f\r]+', ' ', 'g')) AS fp
         |FROM scored
         |WHERE pred_lang = 'en' AND quality_score >= 0.12
         |GROUP BY md5(regexp_replace(lower(text), '[ \t\n\f\r]+', ' ', 'g'))
         |ORDER BY keep_id""".stripMargin,

    "tx13_normalize" ->
      """WITH nrm AS (SELECT doc_id,
        |  nfc_normalize(trim(regexp_replace(
        |    regexp_replace(text, '<[^>]+>', ' ', 'g'), '[ \t\n\f\r]+', ' ', 'g')))
        |    AS norm_text
        | FROM documents)
        |SELECT doc_id, md5(norm_text) AS norm_md5,
        | CAST(LENGTH(norm_text) AS INT) AS norm_len
        |FROM nrm ORDER BY doc_id""".stripMargin,

    "tx05_vocabulary" ->
      """SELECT w, COUNT(*) AS n FROM (
        | SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
        |GROUP BY w ORDER BY n DESC, w LIMIT 50""".stripMargin,

    "tx08_stratified_sample" ->
      """SELECT doc_id, lang, CAST(rk AS INT) AS rk FROM (
        | SELECT doc_id, lang,
        |  ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        | FROM documents)
        |WHERE rk <= 20 ORDER BY lang, rk""".stripMargin,

    "tx09_sequence_pack" ->
      """SELECT doc_id, lang,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        | CAST(FLOOR((SUM(len(string_split(text, ' ')))
        |     OVER (PARTITION BY lang ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   - len(string_split(text, ' '))) / 2000) AS BIGINT) AS pack_id
        |FROM documents ORDER BY doc_id""".stripMargin,

    "tx06_length_hist" ->
      """SELECT CAST(FLOOR(n_chars / 100) * 100 AS BIGINT) AS bucket,
        | COUNT(*) AS n_docs,
        | ROUND(AVG(LENGTH(text)), 4) AS avg_measured
        |FROM documents GROUP BY 1 ORDER BY bucket""".stripMargin,

    // Same fixed-point dot product; `//` floor == Spark `div` truncation
    // on the (all-positive) feature micros.
    "tx17_quality_model" -> {
      val stop = sqlList(enWords)
      s"""WITH f AS (SELECT doc_id,
         |   CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
         |   CAST(len(list_filter(string_split(text, ' '),
         |     w -> list_contains($stop, w))) AS BIGINT) AS ns,
         |   CAST(LENGTH(regexp_replace(text, '[^.!?,;]', '', 'g')) AS BIGINT)
         |     AS np,
         |   n_chars FROM documents),
         | m AS (SELECT doc_id,
         |   (ns * 1000000) // nw AS stop_micro,
         |   (np * 1000000) // nullif(n_chars, 0) AS punct_micro,
         |   LEAST(nw, 500) AS len_cap FROM f)
         |SELECT doc_id, stop_micro, punct_micro, len_cap,
         | -800000 + 3 * stop_micro - 2 * punct_micro + 1000 * len_cap
         |   AS logit,
         | CAST((-800000 + 3 * stop_micro - 2 * punct_micro
         |   + 1000 * len_cap) > 0 AS INT) AS keep
         |FROM m ORDER BY doc_id""".stripMargin
    },

    // Same chain: clean/cap → '_' boundaries → char stream → the merge
    // table applied via nested replace() in the same rank order (literal
    // patterns: regex-global and plain replace share leftmost
    // non-overlapping semantics).
    "tx19_bpe_encode" -> {
      val merged = bpeMerges.foldLeft("chars") { case (acc, (from, to)) =>
        s"replace($acc, '$from', '$to')"
      }
      s"""WITH c AS (SELECT doc_id,
         |   trim(regexp_replace(translate(trim(regexp_replace(
         |     substr(regexp_replace(lower(text), '[^a-z ]', '', 'g'), 1, 64),
         |     ' +', ' ', 'g')), ' ', '_'), '(.)', '\\1 ', 'g')) AS chars
         |  FROM documents),
         | e AS (SELECT doc_id, $merged AS enc FROM c)
         |SELECT doc_id,
         | CAST(len(string_split(enc, ' ')) AS INT) AS n_tokens,
         | array_to_string(string_split(enc, ' ')[1:10], '|') AS head_tokens
         |FROM e ORDER BY doc_id""".stripMargin
    },

    "tx18_inverted_index" ->
      """WITH e AS (SELECT doc_id,
        |   unnest(string_split(lower(text), ' ')) AS w FROM documents),
        | p AS (SELECT DISTINCT w, doc_id FROM e),
        | g AS (SELECT w, COUNT(*) AS df,
        |   array_to_string(list_sort(list(doc_id))[1:20], ',')
        |     AS sample_postings
        |  FROM p GROUP BY w)
        |SELECT w, df, sample_postings FROM g WHERE df >= 50
        |ORDER BY w""".stripMargin,
  )
}
