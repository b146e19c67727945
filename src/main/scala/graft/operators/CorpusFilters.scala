package graft.operators

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QuerySuite, Tables}

/** Corpus-hygiene operators a large-scale training-data pipeline runs after
  * dedup (builder brief / SURVEY §2.3 extension surface): benchmark
  * decontamination, repetition-based quality filtering, and PII redaction.
  *
  * Scale notes (100 TB):
  *  - dc01: the benchmark n-gram set is SMALL by construction (eval suites
  *    are thousands of documents, the corpus is billions), so contamination
  *    is a broadcast hash join of corpus n-grams against the benchmark set
  *    — no shuffle of the corpus, cost is one scan + the tiny broadcast.
  *  - tx10: repetition signals are fully ROW-LOCAL (the top-bigram count
  *    is the longest run of the sorted bigram array, folded with a
  *    higher-order aggregate) — one scan, zero data shuffle.
  *  - tx11: pure row-local regex over codegen'd string expressions — a
  *    narrow map, embarrassingly parallel.
  *  - tx12: per-source quotas from a tiny broadcast aggregate; selection
  *    via the bounded BottomKPerKey aggregator, never a stratum window.
  */
object CorpusFilters extends QuerySuite {
  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  /** 5-gram decontamination threshold: flag at ≥ 3 shared 5-grams (one
    * shared gram can be idiom; three is verbatim leakage — the GPT-3/PaLM
    * style n-gram-overlap rule with a small n because the synthetic docs
    * are ~50 words).
    */
  private val ContaminationMin = 3

  /** PII patterns — intersection of Java-regex and RE2 semantics (no
    * backreferences/lookaround), so Spark and the DuckDB oracle replace
    * identically.
    */
  private[operators] val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  private[operators] val PhoneRe = "\\+?[0-9][0-9()\\- ]{7,}[0-9]"

  /** Adjacent-token bigram pairs over the `w` token array — ONE
    * definition for tx20 (PMI) and tx22 (LM fluency); the DuckDB twin is
    * the `list_transform(range(1, len(w)), ...)` CTE each oracle states.
    */
  // The SQL spelling is no longer on any query path (r21 promoted it to
  // the WordBigrams codegen kernel — the interpreted per-pair lambda was
  // tx20/tx22's dominant scan CPU); it stays as the spec-pinned reference
  // semantics: BigramKernelSpec asserts kernel == this form on the
  // callers' size >= 2 domain.
  private[graft] val bigramPairsSql =
    "transform(sequence(1, size(w) - 1), i -> struct(w[i-1] AS a, w[i] AS b))"

  // The ONE n-gram construction over a pre-split words column — 5-grams
  // (dc01), bigrams (tx10) and 3-shingles ([[MinHashDedup.shingled]]) all
  // go through [[graft.functions.WordNgrams]] (r10's one-spelling
  // discipline; r20 promoted the shared SQL string to a codegen kernel —
  // the interpreted per-gram lambda dispatch was the corpus scans'
  // dominant CPU, and NgramKernelSpec pins kernel == the old SQL
  // formulation including the short-doc/empty/null edges).

  val queries: Map[String, Q] = ListMap(
    // Benchmark decontamination: docs sharing 5-grams with the "eval set"
    // (here: every 20th doc stands in for a held-out benchmark). The eval
    // n-gram set is distinct'd and BROADCAST; corpus docs count how many of
    // their distinct 5-grams hit it. Eval docs themselves are excluded.
    "dc01_decontaminate" -> ((s, dir) => {
      val grams5 = array_distinct(
        graft.functions.GraftFunctions.word_ngrams(col("words"), 5))
      val withGrams = docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("words"))
        .select(col("doc_id"), grams5.as("grams"))
      val benchGrams = withGrams.filter(col("doc_id") % 20 === 0)
        .select(explode(col("grams")).as("g")).distinct()
      // LEFT join at the GRAM level: every corpus doc has ≥ 1 gram (the
      // greatest(…, 1) floor), so the per-doc aggregate keeps zero-overlap
      // docs too — ONE corpus scan, no second doc-level join.
      withGrams.filter(col("doc_id") % 20 =!= 0)
        .select(col("doc_id"), explode(col("grams")).as("g"))
        .join(broadcast(benchGrams.withColumn("hit", lit(1))), Seq("g"), "left")
        .groupBy("doc_id")
        .agg(sum(coalesce(col("hit"), lit(0))).cast("int").as("n_shared_5grams"))
        .select(col("doc_id"), col("n_shared_5grams"),
          (col("n_shared_5grams") >= ContaminationMin)
            .cast("int").as("contaminated"))
        .orderBy("doc_id")
    }),

    // Repetition signals (Gopher-style quality filters): duplicate-word
    // fraction and top-bigram fraction, both ROW-LOCAL — the top bigram
    // count is the longest run in the doc's SORTED bigram array, folded
    // with a higher-order aggregate. One scan, ZERO data shuffle (the
    // explode + groupBy(doc_id, bigram) formulation pushes every bigram of
    // the corpus through two exchanges for a per-row statistic); the oracle
    // runs the unnest + GROUP BY spelling of the same definition.
    "tx10_repetition" -> ((s, dir) => {
      // the longest-run fold reads an already-sorted COLUMN: bigrams come
      // from the word_ngrams codegen kernel and are sorted by sort_array
      // (codegen; array_sort's default comparator is a LAMBDA evaluated
      // interpreted per comparison — bigrams are never null, the one case
      // where the two differ in element order, so the arrays are
      // identical). The fold itself stays a higher-order aggregate — the
      // custom accumulator is what the API is for.
      val topRun = expr(
        """aggregate(bg,
          | named_struct('prev', '', 'run', 0L, 'best', 0L),
          | (acc, x) -> named_struct(
          |   'prev', x,
          |   'run', IF(x = acc.prev, acc.run + 1L, 1L),
          |   'best', GREATEST(acc.best, IF(x = acc.prev, acc.run + 1L, 1L))),
          | acc -> acc.best)""".stripMargin)
      docs(s, dir)
        .select(col("doc_id"), split(lower(col("text")), " ").as("w"))
        .select(col("doc_id"), col("w"), sort_array(
          graft.functions.GraftFunctions.word_ngrams(col("w"), 2)).as("bg"))
        // topRun is projected ONCE and every consumer reads the column:
        // spelling it twice in one select (top_n + the fraction) ran the
        // whole sort+fold twice per row — lambda-bearing higher-order
        // expressions are excluded from codegen subexpression elimination,
        // so the plan really did carry two aggregate(array_sort(...)) calls
        // (r20 plan audit; guide §1.2 "per-task work"). CollapseProject
        // keeps the split projections apart because the fold is non-cheap
        // and referenced more than once (SPARK-36718).
        .select(col("doc_id"), size(col("w")).as("n_words"),
          round(lit(1.0) -
            size(array_distinct(col("w"))).cast("double") / size(col("w")), 6)
            .as("dup_word_frac"),
          topRun.as("top_n"),
          greatest(size(col("w")) - 1, lit(1)).as("denom"))
        .select(col("doc_id"), col("n_words"), col("dup_word_frac"),
          col("top_n"),
          round(col("top_n").cast("double") / col("denom"), 6)
            .as("top_bigram_frac"))
        .select(col("doc_id"), col("n_words"), col("dup_word_frac"),
          col("top_bigram_frac"),
          // the bigram signal needs an ACTUALLY repeated bigram (top_n >=
          // 2): a clean k-word doc has top fraction 1/(k-1), which clears
          // any fixed threshold for k <= 1 + 1/threshold — short prose
          // must never be flagged on fraction alone
          (col("dup_word_frac") > 0.8 ||
            (col("top_bigram_frac") > 0.18 && col("top_n") >= 2))
            .cast("int").as("repetitive"))
        .orderBy("doc_id")
    }),

    // Exact duplicate-substring spans — the suffix-array dedup CONTRACT of
    // "Deduplicating Training Data Makes Language Models Better" (Lee et
    // al.), realized shuffle-style: any 8-token run appearing verbatim in
    // ≥ 2 documents is a duplicated span, and overlapping/adjacent
    // duplicated grams merge into maximal per-doc spans (interval merge).
    // Grams travel the shuffle as 16-byte binary md5 keys (fixed-width,
    // collision-safe at corpus scale, never the text — and half the bytes
    // of the hex form); the span merge is a per-DOCUMENT window — bounded
    // by doc length, embarrassingly parallel across docs, no stratum skew.
    //
    // The ≥2-distinct-docs test is an AGGREGATE over the gram key
    // (min(doc_id) != max(doc_id)) joined back to the gram stream — NOT a
    // gram-keyed window: a window puts a hot gram's ENTIRE occurrence set
    // (a boilerplate license header appearing in millions of docs) in one
    // sorted partition on one task, unsplittable by AQE; the aggregate's
    // per-gram state is O(1) (two ids) however hot the gram, and the join
    // probe stays AQE-skew-splittable. The gram stream is exploded ONCE and
    // explicitly pre-shuffled on the gram key, so the aggregate and the
    // probe hang off the SAME exchange (Spark's shuffle-stage reuse
    // materializes it once). Map-side combine bought the old
    // double-explode plan ~nothing here — md5'd 8-grams are ~unique, so
    // its partial-agg shuffle was nearly the full stream again, i.e. two
    // explodes + ~2 stream-sized shuffles where this plan pays one of each
    // (r9 isolated sf0.1: 2.2-2.4 s → 1.6 s, results row-identical at all
    // three scales).
    "dd09_substring_spans" -> ((s, dir) => {
      val k = 8
      // gram strings come from the word_ngrams codegen kernel and the md5
      // key is a PLAIN projected expression over the exploded rows — fully
      // codegen, where the old per-gram transform lambda ran interpreted
      // (r20; for size >= k docs the kernel's greatest-floor never fires,
      // so the gram count and strings are identical — NgramKernelSpec).
      // The md5 projection sits BEFORE the explicit gram-key repartition,
      // so the shuffle still carries 16-byte keys, never the text.
      val grams = docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= k)
        .select(col("doc_id"), posexplode(
          graft.functions.GraftFunctions.word_ngrams(col("w"), k))
          .as(Seq("pos", "gs")))
        .select(col("doc_id"), col("pos"), expr("unhex(md5(gs))").as("g"))
        .repartition(col("g"))
      // min(pos) >= 0 is a tautology (posexplode is 0-based) Catalyst
      // cannot prove, kept ONLY so `pos` survives column pruning on this
      // branch: pruned, the two exchange subtrees canonicalize differently
      // and stage reuse silently dies — the stream would explode + shuffle
      // twice again. PlanShapeSpec pins the single-stage shape so a Spark
      // upgrade can't quietly regress it.
      val dupGrams = grams.groupBy("g")
        .agg(min("doc_id").as("mn"), max("doc_id").as("mx"),
          min("pos").as("mp"))
        .filter(col("mn") =!= col("mx") && col("mp") >= 0)
        .select("g")
      val hits = grams.join(dupGrams, "g").select("doc_id", "pos")
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val prevMax = max(col("pos") + (k - 1))
        .over(w.rowsBetween(Window.unboundedPreceding, -1))
      hits
        .withColumn("newSpan",
          (prevMax.isNull || col("pos") > prevMax + 1).cast("int"))
        .withColumn("isl", sum(col("newSpan")).over(w))
        .groupBy("doc_id", "isl")
        .agg(min("pos").as("span_start"),
          (max(col("pos")) + (k - 1)).as("span_end"))
        .select(col("doc_id"), col("span_start"), col("span_end"),
          (col("span_end") - col("span_start") + 1).as("span_tokens"))
        .orderBy("doc_id", "span_start")
    }),

    // Temperature-based mixture sampling (the standard multilingual/domain
    // rebalance: quota ∝ (share of largest source)^(1/2), so head sources
    // are downsampled and tail sources survive). Quotas come from a TINY
    // per-source aggregate broadcast back; selection is the de-skewed
    // BottomKPerKey pattern — partial aggregation ships ≤ K rows per
    // (source, map task), never a per-stratum window.
    "tx12_temperature_mix" -> ((s, dir) => {
      val K = 20
      val counts = docs(s, dir).groupBy("source").agg(count(lit(1)).as("n_s"))
      val maxN = counts.agg(max("n_s").as("max_n"))
      val quotas = counts.crossJoin(broadcast(maxN))
        .select(col("source"),
          ceil(lit(K) * sqrt(col("n_s").cast("double") / col("max_n")))
            .cast("int").as("quota"))
      val sample = graft.functions.BottomKPerKey.bottomK(K)
      docs(s, dir)
        .select(col("source"), md5(col("doc_id").cast("string")).as("h"),
          col("doc_id"))
        .groupBy("source")
        .agg(sample(col("h"), col("doc_id")).as("picks"))
        .select(col("source"), posexplode(col("picks")).as(Seq("pos", "e")))
        .select(col("e._2").as("doc_id"), col("source"),
          (col("pos") + 1).cast("int").as("rk"))
        .join(broadcast(quotas), "source")
        .filter(col("rk") <= col("quota"))
        .select(col("doc_id"), col("source"), col("rk"), col("quota"))
        .orderBy("source", "rk")
    }),

    // Fixed-size overlapping token chunking (context-window assembly: 40
    // tokens per chunk, stride 30 → 10-token overlap). Fully ROW-LOCAL —
    // chunk starts come from `sequence` + `transform` over the document's
    // own token array, so the explode is a narrow flatMap with zero
    // shuffle; at 100 TB this is an embarrassingly parallel scan.
    "tx14_chunk" -> ((s, dir) => {
      val cs = 40
      val st = 30
      docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .withColumn("nc", when(size(col("w")) <= cs, lit(1))
          .otherwise(expr(s"(size(w) - ${cs - st + 1}) div $st") + 1)
          .cast("int"))
        .select(col("doc_id"), posexplode(expr(
          s"transform(sequence(0, nc - 1), i -> slice(w, i * $st + 1, $cs))"))
          .as(Seq("chunk_ix", "cw")))
        .select(col("doc_id"), col("chunk_ix").cast("int").as("chunk_ix"),
          size(col("cw")).as("n_chunk_tokens"),
          md5(concat_ws(" ", col("cw"))).as("chunk_md5"))
        .orderBy("doc_id", "chunk_ix")
    }),

    // PII detection + redaction plumbing: match counts plus the md5 of the
    // redacted text (small output even for huge docs; the corpus-rewrite
    // variant is the same expressions minus the md5). The synthetic corpus
    // carries no PII — the oracle gates the no-op path exactly; planted
    // fixtures in CorpusFiltersSpec prove the positive path.
    "tx11_pii_redact" -> ((s, dir) => {
      docs(s, dir).select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(EmailRe), lit(0)))
          .as("n_emails"),
        size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0)))
          .as("n_phones"),
        md5(regexp_replace(
          regexp_replace(col("text"), EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>")).as("redacted_md5"))
        .orderBy("doc_id")
    }),

    // tf-idf term weighting: each document's top-3 most characteristic
    // terms — the classic keyword/topic signal a corpus profiler emits.
    // The idf is EXACT-ARITHMETIC fixed point (tf · 10⁶ · N div df, BIGINT
    // floor division) rather than a float logarithm: tf·(N/df) ranks terms
    // identically to tf·log-idf within a document's tied-tf groups, and
    // integer math is bit-equal across engines where libm's log is not.
    // Shape at scale: tf is one (doc, word) shuffle with map-side combine.
    // df is a `groupBy(word).count()` over tf's rows JOINED BACK — not a
    // word-keyed count window: a stopword's window partition is O(corpus
    // docs) rows on ONE task, unsplittable by AQE, where the aggregate
    // ships one row per (task, word) and the join probe skew-splits. tf is
    // already aggregated (one row per (doc, word)), so the two-consumer
    // subtree re-explodes NOTHING — both df's build and the probe hang off
    // tf's own exchange, which Spark's exchange/stage reuse materializes
    // once. The top-3 window partitions by doc — bounded by a document's
    // vocabulary, no stratum skew.
    "tx15_tfidf" -> ((s, dir) => {
      val words = docs(s, dir).select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("word"))
      val tf = words.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
      // count(*), not countDistinct: doc_id is the table's unique key
      // (every dedup operator leans on that), and a distinct-aggregate
      // builds O(n_docs) hash state for a number a plain count reads off
      // the scan — the oracle states COUNT(*) for the same reason
      val n = docs(s, dir).select(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("doc_id")
        .orderBy(desc("score_fp"), asc("word"))
      tf.join(dfreq, "word")
        .crossJoin(broadcast(n))
        // decimal(38) intermediate: tf·10⁶·n_docs overflows signed 64-bit
        // once n_docs reaches billions (the corpus scale these operators
        // advertise); Spark would wrap silently where DuckDB errors —
        // opposite failure modes on the same expression. div still
        // returns BIGINT, so the output schema is unchanged. If the
        // QUOTIENT itself ever passes 2⁶³ (df=1 spam terms at ~3·10¹¹
        // docs), both engines fail LOUDLY the same way: this build runs
        // Spark 4's default ANSI mode, where the narrowing div raises
        // ARITHMETIC_OVERFLOW exactly as DuckDB's HUGEINT→BIGINT cast does.
        .withColumn("score_fp",
          expr("cast(tf as decimal(38,0)) * 1000000 * n_docs div df"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("word"), col("tf"), col("df"),
          col("score_fp"), col("rk").cast("int").as("rk"))
        .orderBy("doc_id", "rk")
    }),

    // Collocation mining: top-50 bigrams by pointwise mutual information —
    // corpus phrase discovery (tokenizer-vocab candidates, multi-word
    // entity signals). PMI's exponent is ranked in EXACT fixed point:
    // pmi_fp = c_ab·N·10⁶ div (c_a·c_b), BIGINT floor division (log is
    // monotone, so the ranking equals PMI's; integer math is bit-equal
    // across engines where libm's log is not). Shape at scale: bigram and
    // unigram counts are each one explode + one map-side-combined
    // shuffle; the two unigram joins attach vocab-sized AGGREGATE outputs
    // (broadcast-able, AQE-skew-splittable) — no window anywhere, and the
    // c_ab ≥ 5 support floor prunes the bigram table before the joins.
    "tx20_pmi_bigrams" -> ((s, dir) => {
      val toks = docs(s, dir).select(split(lower(col("text")), " ").as("w"))
      val uni = toks.select(explode(col("w")).as("t"))
        .groupBy("t").agg(count(lit(1)).as("c"))
      val n = toks.select(sum(size(col("w"))).as("n_tokens"))
      val bg = toks.filter(size(col("w")) >= 2)
        .select(explode(
          graft.functions.GraftFunctions.word_bigrams(col("w"))).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
        .filter(col("c_ab") >= 5)
      bg.join(uni.select(col("t").as("a"), col("c").as("c_a")), "a")
        .join(uni.select(col("t").as("b"), col("c").as("c_b")), "b")
        .crossJoin(broadcast(n))
        .select(col("a"), col("b"), col("c_ab"), col("c_a"), col("c_b"),
          // decimal(38) BOTH sides of the div: c_ab·N·10⁶ passes 2⁶³ near
          // N ≈ 10¹³ tokens, and the DENOMINATOR c_a·c_b does too once two
          // stopword-frequency unigrams meet (c_a = c_b ≈ 5·10¹¹ gives
          // 2.5·10²³) — the r9 widening covered the numerator and missed
          // this (r10 review); the oracle mirrors with HUGEINT
          expr("cast(c_ab as decimal(38,0)) * n_tokens * 1000000" +
            " div (cast(c_a as decimal(38,0)) * c_b)").as("pmi_fp"))
        .orderBy(desc("pmi_fp"), asc("a"), asc("b"))
        .limit(50)
    }),

    // BM25 ranked retrieval for a pinned query-term set — the lexical
    // search scorer (tx18's inverted index is the structure; this is the
    // ranking function run over it). All arithmetic EXACT fixed point:
    // k1 = 6/5 and b = 3/4 are cleared of denominators by scaling the
    // saturation ratio through 20·avgdl —
    //   tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    //   = 44·tf·avgdl / (20·avgdl·tf + 6·avgdl + 18·dl)
    // — and the idf is tx15's rational fixed point (N·10⁶ div df; log-free
    // integer math is bit-equal across engines where libm's log is not).
    // Shape at scale: the query-term filter lands right after the explode,
    // so the tf shuffle carries only query-term hits (|q|·docs rows max,
    // map-side combined); df and corpus stats are broadcast-sized; the
    // doc-length join is an id-keyed equi-join; the top-20 cut is
    // TakeOrdered with a doc_id tie-break so the cut boundary is
    // deterministic in both engines.
    "tx21_bm25" -> ((s, dir) =>
      bm25Scores(s, dir)
        .orderBy(desc("score_fp"), asc("doc_id"))
        .limit(20)),

    // Bigram language-model fluency scoring — the statistical-LM quality
    // signal (KenLM-style perplexity filtering) in EXACT integer
    // arithmetic: each in-doc bigram scores its corpus conditional
    // probability P(b|a) = c_ab/c_a in ppm (fixed-point division, no
    // log — ppm of probability ranks documents identically to mean
    // log-prob's EXP and is bit-equal across engines), and a document's
    // fluency is the integer mean over its bigrams. Shape at scale: the
    // corpus is DELIBERATELY scanned + exploded twice (count side and
    // probe side) — the explode is narrow row-local work over a
    // columnar scan, and recomputing it is cheaper than shuffling the
    // full bigram-instance table to materialize it once (the
    // pre-aggregate-by-(doc, a, b) alternative was measured 33% slower
    // at 10× — its exchange reuse saves a scan but pays a full-volume
    // shuffle). What DOES shuffle is map-side-combined (a, b) counts
    // and the per-doc mean — aggregate outputs, skew-splittable probes,
    // never a content-keyed window. The 32000 ppm flag threshold sits
    // below the corpus's ~34k median — a real low-fluency tail, not a
    // degenerate constant column.
    "tx22_lm_fluency" -> ((s, dir) => {
      val toks = docs(s, dir)
        .select(col("doc_id"), split(lower(col("text")), " ").as("w"))
      val uni = toks.select(explode(col("w")).as("t"))
        .groupBy("t").agg(count(lit(1)).as("c_a"))
      val docbg = toks.filter(size(col("w")) >= 2)
        .select(col("doc_id"), explode(
          graft.functions.GraftFunctions.word_bigrams(col("w"))).as("p"))
        .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))
      val bg = docbg.groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
      docbg.join(bg, Seq("a", "b"))
        .join(uni.withColumnRenamed("t", "a"), "a")
        // decimal(38) intermediate: a hot bigram's c_ab·10⁶ passes 2⁶³
        // once c_ab > 9.2·10¹² (0.1% of a 10¹³-token corpus) — same r9
        // widening class; the quotient is a ppm ≤ 10⁶, so the output
        // stays BIGINT
        .select(col("doc_id"),
          expr("(cast(c_ab as decimal(38,0)) * 1000000) div c_a")
            .as("cond_ppm"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum(col("cond_ppm")).as("sum_ppm"))
        .select(col("doc_id"), col("n_bigrams"),
          expr("sum_ppm div n_bigrams").as("mean_cond_ppm"))
        .withColumn("low_fluency",
          (col("mean_cond_ppm") < 32000L).cast("int"))
        .orderBy("doc_id")
    }),
  )

  /** The pinned query terms tx21/ss11 score against. */
  private[operators] val Bm25Terms = Seq("spark", "vector", "stream")
  /** The term list as a SQL IN-list — interpolated into the tx21 and
    * ss11 oracles so an edit to [[Bm25Terms]] cannot silently desync
    * them (r10 review; the ContaminationMin/EmailRe convention).
    */
  private[operators] val bm25TermsSql: String =
    Bm25Terms.map(t => s"'$t'").mkString(", ")

  /** The BM25 oracle CTE chain (every relation name prefixed with `p`),
    * ending in `${p}sc(doc_id, term, contrib)` — the per-(doc, term)
    * cleared-denominator fixed-point contribution. Shared VERBATIM by the
    * tx21 and ss11 oracles, the same convention as [[bm25TermsSql]]: the
    * r14 review found ss11's re-inlined copy had already drifted (it lost
    * the HUGEINT widening of the numerator, which passes 2^63 for rare
    * terms at billions of docs), so the arithmetic now has exactly one
    * spelling. Every count cast to BIGINT (DuckDB COUNT/SUM widen);
    * division is BIGINT floor (//) at the same association as Spark's
    * `div`s.
    */
  private[operators] def bm25OracleCteSql(p: String): String =
    s"""${p}d AS (SELECT doc_id, string_split(lower(text), ' ') AS w
       |  FROM documents),
       | ${p}lens AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl
       |   FROM ${p}d),
       | ${p}st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |   CAST(SUM(dl) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS avgdl
       |  FROM ${p}lens),
       | ${p}tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM
       |   (SELECT doc_id, unnest(w) AS term FROM ${p}d) e
       |  WHERE term IN ($bm25TermsSql)
       |  GROUP BY doc_id, term),
       | ${p}dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM ${p}tf
       |   GROUP BY term),
       | ${p}sc AS (SELECT ${p}tf.doc_id, ${p}tf.term,
       |   CAST((CAST((${p}st.n_docs * 1000000) // ${p}dfq.df AS HUGEINT)
       |      * 44 * ${p}tf.tf * ${p}st.avgdl)
       |     // (20 * ${p}st.avgdl * ${p}tf.tf + 6 * ${p}st.avgdl
       |       + 18 * ${p}lens.dl)
       |    AS BIGINT) AS contrib
       |  FROM ${p}tf JOIN ${p}dfq USING (term)
       |   JOIN ${p}lens ON ${p}tf.doc_id = ${p}lens.doc_id, ${p}st)""".stripMargin

  /** tx21's BM25 scorer over the full corpus (no cut): one row per doc
    * that matches ≥ 1 query term, with the exact fixed-point score.
    * Shared with ss11's hybrid fusion.
    */
  private[operators] def bm25Scores(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
      .select(col("doc_id"), split(lower(col("text")), " ").as("w"))
    val lens = d.select(col("doc_id"), size(col("w")).cast("long").as("dl"))
    val stats = lens
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_len"))
      .select(col("n_docs"), expr("total_len div n_docs").as("avgdl"))
    val tf = d.select(col("doc_id"), explode(col("w")).as("term"))
      .filter(col("term").isin(Bm25Terms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "term")
      .join(lens, "doc_id")
      .crossJoin(broadcast(stats))
      // decimal(38) numerator: idf·44·tf·avgdl passes 2⁶³ for rare terms
      // at billions of docs (idf alone is N·10⁶ at df = 1)
      .withColumn("contrib", expr(
        "(cast((n_docs * 1000000) div df as decimal(38,0)) * 44 * tf * avgdl)" +
          " div (20 * avgdl * tf + 6 * avgdl + 18 * dl)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum(col("contrib")).as("score_fp"))
  }

  val oracle: Map[String, String] = ListMap(
    "dc01_decontaminate" ->
      s"""WITH g AS (
         | SELECT doc_id, list_distinct(list_transform(
         |   range(1, greatest(len(string_split(text, ' ')) - 4, 1) + 1),
         |   i -> array_to_string(
         |     list_slice(string_split(text, ' '), i, i + 4), ' '))) AS grams
         | FROM documents),
         | bench AS (SELECT DISTINCT unnest(grams) AS gr FROM g
         |   WHERE doc_id % 20 = 0),
         | corpus AS (SELECT * FROM g WHERE doc_id % 20 <> 0),
         | hits AS (
         |  SELECT doc_id, COUNT(*) AS n FROM (
         |    SELECT doc_id, unnest(grams) AS gr FROM corpus) e
         |  JOIN bench USING (gr) GROUP BY doc_id)
         |SELECT c.doc_id,
         | CAST(COALESCE(h.n, 0) AS INT) AS n_shared_5grams,
         | CAST(COALESCE(h.n, 0) >= $ContaminationMin AS INT) AS contaminated
         |FROM corpus c LEFT JOIN hits h ON h.doc_id = c.doc_id
         |ORDER BY c.doc_id""".stripMargin,

    "tx10_repetition" ->
      """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS w
        |  FROM documents),
        | rowstats AS (SELECT doc_id,
        |   CAST(len(w) AS INT) AS n_words,
        |   ROUND(1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 6)
        |     AS dup_word_frac FROM w),
        | bg AS (SELECT doc_id, unnest(list_transform(
        |   range(1, greatest(len(w) - 1, 1) + 1),
        |   i -> array_to_string(list_slice(w, i, i + 1), ' '))) AS bg FROM w),
        | counts AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg
        |   GROUP BY doc_id, bg),
        | top AS (SELECT doc_id, MAX(c) AS top_n,
        |   ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_bigram_frac
        |  FROM counts GROUP BY doc_id)
        |SELECT r.doc_id, r.n_words, r.dup_word_frac, t.top_bigram_frac,
        | CAST(r.dup_word_frac > 0.8 OR
        |   (t.top_bigram_frac > 0.18 AND t.top_n >= 2) AS INT)
        |   AS repetitive
        |FROM rowstats r JOIN top t ON t.doc_id = r.doc_id
        |ORDER BY r.doc_id""".stripMargin,

    "dd09_substring_spans" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |   WHERE len(string_split(text, ' ')) >= 8),
        | g AS (SELECT tbl.doc_id, t.i - 1 AS pos,
        |    md5(array_to_string(list_slice(tbl.w, t.i, t.i + 7), ' ')) AS g
        |   FROM w tbl CROSS JOIN UNNEST(range(1, len(tbl.w) - 6)) AS t(i)),
        | dup AS (SELECT g FROM g GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
        | h AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (g)),
        | m AS (SELECT doc_id, pos,
        |   MAX(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM h),
        | i AS (SELECT doc_id, pos,
        |   SUM(CASE WHEN pm IS NULL OR pos > pm + 1 THEN 1 ELSE 0 END)
        |     OVER (PARTITION BY doc_id ORDER BY pos) AS isl FROM m)
        |SELECT doc_id, CAST(MIN(pos) AS INT) AS span_start,
        | CAST(MAX(pos) + 7 AS INT) AS span_end,
        | CAST(MAX(pos) + 7 - MIN(pos) + 1 AS INT) AS span_tokens
        |FROM i GROUP BY doc_id, isl ORDER BY doc_id, span_start""".stripMargin,

    "tx12_temperature_mix" ->
      """WITH c AS (SELECT source, COUNT(*) AS n_s FROM documents
        |   GROUP BY source),
        | q AS (SELECT source, CAST(CEIL(20 * SQRT(CAST(n_s AS DOUBLE)
        |     / (SELECT MAX(n_s) FROM c))) AS INT) AS quota FROM c),
        | r AS (SELECT doc_id, source, ROW_NUMBER() OVER (PARTITION BY source
        |     ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |   FROM documents)
        |SELECT r.doc_id, r.source, CAST(r.rk AS INT) AS rk, q.quota
        |FROM r JOIN q ON q.source = r.source
        |WHERE r.rk <= q.quota ORDER BY r.source, rk""".stripMargin,

    "tx14_chunk" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
        |   FROM documents),
        | c AS (SELECT doc_id, w,
        |   CASE WHEN len(w) <= 40 THEN 1
        |     ELSE CAST((len(w) - 11) // 30 AS INT) + 1 END AS nc FROM w)
        |SELECT doc_id, CAST(t.i AS INT) AS chunk_ix,
        | CAST(len(list_slice(w, t.i * 30 + 1, t.i * 30 + 40)) AS INT)
        |   AS n_chunk_tokens,
        | md5(array_to_string(list_slice(w, t.i * 30 + 1, t.i * 30 + 40), ' '))
        |   AS chunk_md5
        |FROM c CROSS JOIN UNNEST(range(0, nc)) AS t(i)
        |ORDER BY doc_id, chunk_ix""".stripMargin,

    "tx11_pii_redact" ->
      s"""SELECT doc_id,
         | CAST(len(regexp_extract_all(text, '$EmailRe')) AS INT) AS n_emails,
         | CAST(len(regexp_extract_all(text, '$PhoneRe')) AS INT) AS n_phones,
         | md5(regexp_replace(regexp_replace(text, '$EmailRe', '<EMAIL>', 'g'),
         |   '$PhoneRe', '<PHONE>', 'g')) AS redacted_md5
         |FROM documents ORDER BY doc_id""".stripMargin,

    "tx15_tfidf" ->
      """WITH w AS (SELECT doc_id,
        |   unnest(string_split(lower(text), ' ')) AS word FROM documents),
        | tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY 1, 2),
        | df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY 1),
        | n AS (SELECT COUNT(*) AS n_docs FROM documents),
        | sc AS (SELECT tf.doc_id, tf.word, tf.tf, df.df,
        |    CAST((CAST(tf.tf AS HUGEINT) * 1000000 * n.n_docs) // df.df
        |      AS BIGINT) AS score_fp
        |   FROM tf JOIN df USING (word) CROSS JOIN n),
        | r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY score_fp DESC, word) AS rk FROM sc)
        |SELECT doc_id, word, tf, df, score_fp, CAST(rk AS INT) AS rk
        |FROM r WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,

    // Same exact-integer PMI ranking; DuckDB lists are 1-based and
    // range() is end-exclusive, so i ∈ [1, len) pairs w[i] with w[i+1] —
    // the same size-1 bigram set as Spark's 0-based formulation. SUM is
    // cast back to BIGINT (DuckDB widens to HUGEINT).
    "tx20_pmi_bigrams" ->
      """WITH w AS (SELECT string_split(lower(text), ' ') AS w
        |  FROM documents),
        | uni AS (SELECT t, COUNT(*) AS c FROM
        |   (SELECT unnest(w) AS t FROM w) GROUP BY t),
        | n AS (SELECT CAST(SUM(len(w)) AS BIGINT) AS n_tokens FROM w),
        | bg0 AS (SELECT unnest(list_transform(range(1, len(w)),
        |    i -> {'a': w[i], 'b': w[i + 1]})) AS p
        |   FROM w WHERE len(w) >= 2),
        | bg AS (SELECT p.a AS a, p.b AS b, COUNT(*) AS c_ab FROM bg0
        |   GROUP BY 1, 2 HAVING COUNT(*) >= 5)
        |SELECT bg.a, bg.b, bg.c_ab, ua.c AS c_a, ub.c AS c_b,
        | CAST((CAST(bg.c_ab AS HUGEINT) * n.n_tokens * 1000000)
        |   // (CAST(ua.c AS HUGEINT) * ub.c) AS BIGINT) AS pmi_fp
        |FROM bg CROSS JOIN n
        | JOIN uni ua ON ua.t = bg.a
        | JOIN uni ub ON ub.t = bg.b
        |ORDER BY pmi_fp DESC, a, b LIMIT 50""".stripMargin,

    // The shared cleared-denominator BM25 chain ([[bm25OracleCteSql]] —
    // one spelling for tx21 and ss11), aggregated per doc with the
    // matched-term count.
    "tx21_bm25" ->
      s"""WITH ${bm25OracleCteSql("")}
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
        | CAST(SUM(contrib) AS BIGINT) AS score_fp
        |FROM sc GROUP BY doc_id
        |ORDER BY score_fp DESC, doc_id LIMIT 20""".stripMargin,

    // Same integer conditional-probability mean; DuckDB's 1-based lists
    // pair w[i] with w[i+1] over i ∈ [1, len) — the Spark bigram set.
    "tx22_lm_fluency" ->
      """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS w
        |  FROM documents),
        | uni AS (SELECT t, COUNT(*) AS c_a FROM
        |   (SELECT unnest(w) AS t FROM w) GROUP BY t),
        | dbg0 AS (SELECT doc_id, unnest(list_transform(range(1, len(w)),
        |    i -> {'a': w[i], 'b': w[i + 1]})) AS p
        |   FROM w WHERE len(w) >= 2),
        | dbg AS (SELECT doc_id, p.a AS a, p.b AS b FROM dbg0),
        | bg AS (SELECT a, b, COUNT(*) AS c_ab FROM dbg GROUP BY a, b),
        | sc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |   CAST(SUM((CAST(bg.c_ab AS HUGEINT) * 1000000) // uni.c_a) AS BIGINT)
        |     // CAST(COUNT(*) AS BIGINT) AS mean_cond_ppm
        |  FROM dbg JOIN bg USING (a, b) JOIN uni ON uni.t = dbg.a
        |  GROUP BY doc_id)
        |SELECT doc_id, n_bigrams, mean_cond_ppm,
        | CAST(mean_cond_ppm < 32000 AS INT) AS low_fluency
        |FROM sc ORDER BY doc_id""".stripMargin,
  )
}
