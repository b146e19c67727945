package graft.operators

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.{QuerySuite, Tables}
import graft.functions.GraftFunctions

/** Similarity search over the `embeddings` table (builder brief / SURVEY §2.3).
  *
  * Cosine math is done in DOUBLE via higher-order functions
  * (`transform`/`zip_with`/`aggregate`) — codegen-friendly, no UDF in the
  * exact paths — mirroring DuckDB's `list_inner_product` on
  * double-transformed lists so the oracle compares exactly (rounded to 6dp).
  *
  * Scale notes (100 TB):
  *  - `ss02` brute-force top-k broadcasts the (small) query set and scans the
  *    corpus once per partition: embarrassingly parallel, no shuffle besides
  *    the final per-query top-k (tiny). This is the correct baseline even at
  *    scale when the query set is small.
  *  - `ss03` is the bucketed path: random-hyperplane LSH signatures put
  *    near vectors in the same bucket; candidate generation is a hash join on
  *    the signature, so work scales with bucket size, not corpus size. The
  *    plane count grows with log₂(corpus / target-bucket-size) — see
  *    [[planesFor]] — pinning at 4 across every oracle-scale corpus.
  */
object SimilarityOps extends QuerySuite {
  /** Embeddings with L2 norm. The dot-product kernel is the native
    * codegen'd [[graft.functions.DotProduct]] expression — double-precision
    * sequential accumulation directly over the float arrays, bit-identical
    * to the `aggregate(zip_with(...))` higher-order formulation (and to the
    * DuckDB oracle) but without materializing intermediate arrays.
    */
  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings").select(
      col("vec_id"), col("label"), col("embedding").as("v"))
      .withColumn("nrm",
        sqrt(GraftFunctions.dot_product(col("v"), col("v"))))

  /** Memoized embeddings row count per input dir. The count sizes LSH
    * plane counts and the broadcast hint, and EVERY similarity/graph query
    * re-derives it — un-memoized that is one count job per query per pass
    * (the r15 gr03 adjudication clocked each resolution at ~0.2-0.4 s of
    * the query's wall time). Invalidation rides the same file-metadata
    * fingerprint as the scratch cache (one listStatus, no job): a
    * rewritten table recounts, an unchanged one answers from the map.
    * Bounded: an access-ordered LRU capped at [[EmbCountCacheMax]] entries
    * (a long-lived session scanning thousands of distinct dirs would
    * otherwise grow the map without limit — r15 note); eviction only costs
    * the evicted dir a recount on revisit.
    */
  private[operators] val EmbCountCacheMax = 64
  private[operators] val embCountCache =
    new java.util.LinkedHashMap[String, (String, Long)](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (String, Long)]): Boolean =
        size() > EmbCountCacheMax
    }
  private[graft] def embCount(s: SparkSession, dir: String): Long = {
    val df = Tables(s, dir, "embeddings")
    val fp = Scratch.inputFingerprint(df)
    val hit = embCountCache.synchronized(embCountCache.get(dir))
    if (hit != null && hit._1 == fp) hit._2
    else {
      val n = df.count()
      embCountCache.synchronized(embCountCache.put(dir, (fp, n)))
      n
    }
  }

  private val dot12: Column =
    GraftFunctions.dot_product(col("v1"), col("v2"))

  /** Deterministic random hyperplanes for LSH (fixed seed → reproducible;
    * distinct seeds → the independent hash tables of multi-table LSH).
    */
  private[operators] def planesSeeded(
      seed: Int, nPlanes: Int, dim: Int): Array[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(nPlanes, dim)(rng.nextGaussian())
  }

  private[operators] def planes(nPlanes: Int, dim: Int): Array[Array[Double]] =
    planesSeeded(42, nPlanes, dim)

  /** Plane count for a corpus of `n` vectors. With `p` planes there are 2^p
    * signature buckets, so the expected bucket population is n/2^p; the
    * candidate join's COST follows bucket size (≈ n·bucket/2 pairs per
    * table), so `p` must grow as log₂(n / targetBucket) to keep that
    * bounded as the corpus scales. Never fewer than [[MinPlanes]]: every
    * corpus up to TargetBucket·2^MinPlanes = 2 048 vectors (all oracle AND
    * bench scale factors — sf0.1 ships 2 000) pins at 4 planes, so the
    * hash-gated oracle's inlined 4-plane signature stays exact while real
    * deployments get the log₂ growth.
    *
    * 128, not the original 4 096: the r13 30× ladder killed the host disk
    * on dd08 — 60 k vectors still resolved to MinPlanes, so buckets held
    * ~3 750 vectors and the candidate join-back dragged ~337 M pairs ×
    * two 256-byte vectors through sort-merge spills ("No space left on
    * device"). Bucket size IS the pair-volume knob: per-vector candidate
    * work is ~bucket/2 per table, so the target must be small enough that
    * the constant survives a 1000× corpus. Recall lost to the extra bits
    * is bought back by [[multiTableSigs]] growing the TABLE count with the
    * plane count (near-dup pairs at cosine ≥ 0.95 keep ≥ ~85% single-pass
    * recall at the rehearsal scales; genuine duplicates ≥ 0.99 stay ≥ 99%).
    */
  private[operators] val TargetBucket = 128L
  private[operators] val MinPlanes = 4

  /** Beyond this corpus size the per-pair vector join-back stops being
    * broadcastable (64-dim float ≈ 260 B/row → ~260 MB at the cap) and the
    * planner's shuffle strategy takes over.
    */
  private[operators] val BroadcastMaxVectors = 1000000L
  /** Recall defense at scale: each extra plane multiplies per-table
    * near-dup recall by the per-bit agreement probability, so the table
    * count grows with the plane count (3 at every oracle/bench scale, up
    * to 8 at corpus scales). Tables are cheap: one signature column each,
    * one shared scratch pass. ONE definition, shared by [[multiTableSigs]]
    * and the oracle generators — the geometry is a cross-engine contract.
    */
  private[operators] def bandTablesFor(nPlanes: Int): Int =
    math.min(8, 3 + (nPlanes - MinPlanes) / 3)

  private[operators] def planesFor(n: Long): Int = {
    val p = math.max(MinPlanes, math.ceil(
      math.log(n.toDouble / TargetBucket) / math.log(2.0)).toInt)
    // the signature folds bit p as `1 << p` into an INT bucket: at 33+
    // planes the shift wraps (1 << 32 == 1 in Java) and distinct plane
    // outcomes silently collide into one bucket — unreachable below
    // ~1.8e13 vectors, but fail loudly rather than corrupt signatures
    require(p <= 31, s"planesFor($n) = $p exceeds the int signature's " +
      "31 usable bits — widen hyperplaneSig to a long bucket id first")
    p
  }

  /** Signature bit p = sign(v · plane_p) folded into an int bucket id —
    * the ONE hyperplane-signature construction shared by multiTableSigs,
    * ss03 and ss08, so the bit layout cannot drift between the Spark
    * queries and the oracle generator (`sigSqlFor`, which must stay in
    * lockstep). Plane constants inline as literal arrays: no per-plane
    * scratch columns to add and re-drop.
    */
  private def hyperplaneSig(pl: Array[Array[Double]]): Column =
    pl.indices.map { p =>
      val plane = array(pl(p).toIndexedSeq.map(lit): _*)
      when(GraftFunctions.dot_product(col("v"), plane) > 0, 1 << p)
        .otherwise(0)
    }.reduce(_ + _)

  /** Multi-table hyperplane LSH signatures — (vec_id, tb, sig) with one row
    * per (vector, table). Independent tables amplify recall (candidate if
    * ANY table agrees). Materialized once per (tag, input dir) via
    * the [[Scratch]] cache, so dd07, dd08 and ss05 all share one
    * signature pass instead of re-shingling the corpus.
    */
  private[operators] def multiTableSigs(
      s: SparkSession, dir: String): DataFrame =
    multiTableSigs(s, dir, embCount(s, dir))

  /** Variant taking a pre-computed corpus size so callers that already
    * counted (the near-dup kernel's broadcast decision) don't launch a
    * second identical count job per invocation (r13 review).
    */
  private[operators] def multiTableSigs(
      s: SparkSession, dir: String, n: Long): DataFrame = {
    val nPlanes = planesFor(n)
    val nTables = bandTablesFor(nPlanes)
    val e = emb(s, dir)
    Scratch.materialized(
      e.select(col("vec_id"), explode(array(
        (0 until nTables).map(t => struct(lit(t).as("tb"),
          hyperplaneSig(planesSeeded(42 + t, nPlanes, 64)).as("sig"))): _*)).as("ts"))
        .select(col("vec_id"), col("ts.tb"), col("ts.sig")),
      "dd07_sigs", dir)
  }

  /** dd07's kernel, shared with the semantic-cluster operator (dd08):
    * multi-table hyperplane LSH candidates → exact cosine ≥ 0.4 pairs.
    * Only ids travel through the bucket shuffle; vectors join back per
    * candidate pair.
    */
  private[operators] def embeddingNearDupPairs(
      s: SparkSession, dir: String): DataFrame = {
    val n = embCount(s, dir)
    val e = emb(s, dir)
    val sigs = multiTableSigs(s, dir, n)
    val cands = sigs.select(col("vec_id").as("id1"), col("tb"), col("sig"))
      .join(sigs.select(col("vec_id").as("id2"), col("tb"), col("sig")),
        Seq("tb", "sig"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
    // the candidate stream is the BIG side (≈ bucket/2 pairs per vector
    // per table); the vector table is n rows. Joining back by sort-merge
    // dragged every candidate's two dense vectors through shuffle sorts —
    // at the r13 30× rehearsal that spilled the disk dry. Broadcasting the
    // vector side keeps the candidate stream flowing straight through two
    // hash probes + the cosine filter, nothing sorted, nothing spilled;
    // past [[BroadcastMaxVectors]] the hint is withheld and the planner's
    // shuffle strategy (or storage-partitioned join on a real cluster)
    // takes over.
    val hint: DataFrame => DataFrame =
      if (n <= BroadcastMaxVectors) broadcast(_) else identity
    val v1 = hint(e.select(col("vec_id").as("id1"),
      col("v").as("v1"), col("nrm").as("n1")))
    val v2 = hint(e.select(col("vec_id").as("id2"),
      col("v").as("v2"), col("nrm").as("n2")))
    cands.join(v1, "id1").join(v2, "id2")
      .select(col("id1"), col("id2"),
        round(dot12 / (col("n1") * col("n2")), 6).as("cosine"))
      .filter(col("cosine") >= 0.4)
  }

  /** The ×10⁴ fixed-point quantization of the embedding column — ONE
    * definition for the three integer-exact vector operators (ss06
    * centroids, ss07 k-means, ss09 PQ): the scale constant is a
    * cross-engine contract mirrored in each oracle string, so a one-sided
    * edit must fail loudly in all three gates, not silently in one.
    */
  // r21: the FxQuant codegen kernel replaces the interpreted per-element
  // transform lambda (`transform(embedding, x -> cast(floor(cast(x as
  // double) * 10000) as bigint))`) — FxQuantSpec pins kernel == that form
  // over the real corpus; the oracle strings keep stating the arithmetic
  // directly, so the cross-engine contract is unchanged.
  private val fxQuant: Column = GraftFunctions.fx_quant(col("embedding"))

  /** ss09's pinned PQ codebook (M=4 sub-spaces × K=4 codes × 16 dims) and
    * encode — factored so PqCodeSpec can pin code DIVERSITY: the original
    * grid formula's dead d-term made every vector encode to one shared
    * code tuple (see the ss09 comment), and only a spec over the codes
    * frame can see that (the oracle mirrors the formula, so the hash gate
    * cannot).
    */
  private[operators] def pqCodebook(s: SparkSession): DataFrame =
    s.range(4).select(col("id").cast("int").as("m"))
      .crossJoin(s.range(4).select(col("id").cast("int").as("c")))
      .select(col("m"), col("c"), expr(
        "transform(sequence(0, 15), " +
          "d -> cast((((m*31 + c*13 + d*11) % 8) - 4) * 500 as bigint))")
        .as("cq"))

  /** Squared L2 between sub-vector m of `vq` and the codeword `cq` —
    * the codegen LongVecFold kernel (squared mode) over the sliced
    * sub-vector; replaces the interpreted aggregate(zip_with(...)) chain
    * (r20), exact BIGINT math and null semantics unchanged.
    */
  private[operators] val pqSqDist: Column =
    GraftFunctions.sqdist_long(
      expr("slice(vq, m * 16 + 1, 16)"), col("cq"))

  /** Argmin-L2 PQ encode of a (vec_id, vq) frame: (vec_id, m, code). */
  private[operators] def pqCodes(e: DataFrame, cb: DataFrame): DataFrame =
    e.crossJoin(broadcast(cb))
      .select(col("vec_id"), col("m"), pqSqDist.as("dist"), col("c"))
      .groupBy("vec_id", "m")
      .agg(min(struct(col("dist"), col("c"))).as("b"))
      .select(col("vec_id"), col("m"), col("b.c").as("code"))

  /** The embeddings table as (vec_id, vq) fixed-point rows — pqCodes'
    * corpus input, shared by ss09 and PqCodeSpec.
    */
  private[operators] def fxEmb(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings").select(col("vec_id"), fxQuant.as("vq"))

  /** ss10's MIPS kernel over any (vec_id, v, nrm) frame — the query binds
    * it to the embeddings table; MipsPlantedSpec drives it with a
    * VARIED-NORM fixture, because the oracle corpus is unit-normalized
    * (augc ≈ 0 for every row) and so exercises the norm-augmentation math
    * only degenerately (r10 review finding). Queries = vec_id < 3; the
    * query's own row is excluded like every other ANN query here.
    */
  private[operators] def mipsTopK(e: DataFrame): DataFrame = {
    val mrow = e.agg(max(col("nrm")).as("m"))
    val aug = e.crossJoin(broadcast(mrow))
      .select(col("vec_id"), col("v"),
        sqrt(col("m") * col("m") - col("nrm") * col("nrm")).as("augc"))
    val pl = planesSeeded(77, MinPlanes, 65)
    def sigOf(augCol: Column): Column =
      pl.indices.map { p =>
        val first64 = array(pl(p).take(64).toIndexedSeq.map(lit): _*)
        when(GraftFunctions.dot_product(col("v"), first64)
          + lit(pl(p)(64)) * augCol > 0, 1 << p).otherwise(0)
      }.reduce(_ + _)
    val corpus = aug.select(col("vec_id"), col("v"),
      sigOf(col("augc")).as("sig"))
    val qs = aug.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        sigOf(lit(0.0)).as("sig"))
    val w = Window.partitionBy("qid").orderBy(desc("dot"), asc("vec_id"))
    corpus.join(broadcast(qs), "sig")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(GraftFunctions.dot_product(col("qv"), col("v")), 6).as("dot"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("qid"), col("vec_id"), col("dot"),
        col("rk").cast("int").as("rk"))
      .orderBy("qid", "rk")
  }

  val queries: Map[String, Q] = ListMap(
    // Cosine over consecutive-id pairs — oracle-checked exact kernel.
    "ss01_cosine_pairs" -> ((s, dir) => {
      val e = emb(s, dir)
      val a = e.select(col("vec_id").as("id1"), col("v").as("v1"), col("nrm").as("n1"))
      val b = e.select(col("vec_id").as("id2"), col("v").as("v2"), col("nrm").as("n2"))
      a.join(b, col("id2") === col("id1") + 1)
        .select(col("id1"), col("id2"),
          round(dot12 / (col("n1") * col("n2")), 6).as("cosine"))
        .orderBy("id1")
    }),

    // Brute-force cosine top-k: broadcast query set × corpus scan.
    "ss02_topk_bruteforce" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v").as("v1"), col("nrm").as("n1"))
      val c = e.select(col("vec_id"), col("v").as("v2"), col("nrm").as("n2"))
      val w = Window.partitionBy("qid").orderBy(desc("cos"), asc("vec_id"))
      broadcast(q).join(c, col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          (dot12 / (col("n1") * col("n2"))).as("cos"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("qid"), col("vec_id"), round(col("cos"), 6).as("cosine"),
          col("rn"))
        .orderBy("qid", "rn")
    }),

    // LSH-bucketed ANN: same-signature candidates only. The hyperplanes are
    // deterministic, so the oracle replicates the exact bucketing (plane
    // constants inlined as double literals) and hash-gates the result;
    // recall vs ss02 is additionally asserted in the test suite.
    "ss03_ann_lsh" -> ((s, dir) => {
      // memoized parquet-metadata count: cheap even at lake scale
      val nPlanes = planesFor(embCount(s, dir))
      val sig = emb(s, dir)
        .withColumn("sig", hyperplaneSig(planes(nPlanes, 64)))
        .select("vec_id", "v", "nrm", "sig")
      val q = sig.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v").as("v1"),
          col("nrm").as("n1"), col("sig"))
      val c = sig.select(col("vec_id"), col("v").as("v2"),
        col("nrm").as("n2"), col("sig"))
      val w = Window.partitionBy("qid").orderBy(desc("cos"), asc("vec_id"))
      broadcast(q).join(c, Seq("sig")).filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          (dot12 / (col("n1") * col("n2"))).as("cos"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("qid"), col("vec_id"), round(col("cos"), 6).as("cosine"),
          col("rn"))
        .orderBy("qid", "rn")
    }),

    // FILTERED vector search: ss03's LSH with a metadata predicate (same
    // label) folded INTO the bucket key — the candidate join runs on
    // (sig, label), so the filter narrows each bucket instead of
    // post-filtering candidates (post-filter ANN starves top-k recall when
    // the predicate is selective; key composition is the index-level fix).
    "ss08_filtered_ann" -> ((s, dir) => {
      val nPlanes = planesFor(embCount(s, dir))
      val sig = emb(s, dir)
        .withColumn("sig", hyperplaneSig(planes(nPlanes, 64)))
        .select("vec_id", "label", "v", "nrm", "sig")
      val q = sig.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("label"), col("v").as("v1"),
          col("nrm").as("n1"), col("sig"))
      val c = sig.select(col("vec_id"), col("label"), col("v").as("v2"),
        col("nrm").as("n2"), col("sig"))
      val w = Window.partitionBy("qid").orderBy(desc("cos"), asc("vec_id"))
      broadcast(q).join(c, Seq("sig", "label"))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("label"), col("vec_id"),
          (dot12 / (col("n1") * col("n2"))).as("cos"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("qid"), col("label"), col("vec_id"),
          round(col("cos"), 6).as("cosine"), col("rn"))
        .orderBy("qid", "rn")
    }),

    // IVF-style ANN: coarse quantization to deterministic centroids, probe
    // the nearest 2 cells. Complements ss03's LSH path — IVF work scales
    // with cell population, and nprobe trades recall for cost. Centroids
    // here are hash-chosen corpus vectors (at lake scale: k-means over a
    // sample, persisted as a broadcast table).
    "ss04_ann_ivf" -> ((s, dir) => {
      val e = emb(s, dir)
      // deterministic "centroids": 16 corpus vectors by hash order
      val cents = e
        .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cn"))
        .orderBy(md5(col("cid").cast("string")), col("cid")).limit(16)
      val centDot = GraftFunctions.dot_product(col("v"), col("cv")) /
        (col("nrm") * col("cn"))
      // assign every vector to its 2 nearest cells (multi-assignment on the
      // corpus side doubles the assignment table but lets queries probe a
      // single list). The assignment is IDS ONLY — (vec_id, cid) — and is
      // MATERIALIZED once (the lake's persisted IVF index): consuming it
      // from both the probe and corpus sides of the cell join must not
      // re-run the centroid scoring pass twice, and vectors join back per
      // candidate, never traveling with the assignment.
      val wCell = Window.partitionBy("vec_id").orderBy(desc("csim"), asc("cid"))
      val asg = Scratch.materialized(
        e.crossJoin(broadcast(cents))
          .select(col("vec_id"), col("cid"), centDot.as("csim"))
          .withColumn("crk", row_number().over(wCell))
          .filter(col("crk") <= 2)
          .select(col("vec_id"), col("cid")),
        "ss04_asg", dir)
      val q = asg.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("cid"))
      val cands = broadcast(q).join(asg, Seq("cid"))
        .filter(col("vec_id") =!= col("qid"))
        .select("qid", "vec_id").distinct()
      val qv = e.filter(col("vec_id") < 10).select(col("vec_id").as("qid"),
        col("v").as("v1"), col("nrm").as("n1"))
      val cv = e.select(col("vec_id"), col("v").as("v2"), col("nrm").as("n2"))
      val w = Window.partitionBy("qid").orderBy(desc("cos"), asc("vec_id"))
      cands.join(cv, "vec_id").join(broadcast(qv), "qid")
        .select(col("qid"), col("vec_id"),
          (dot12 / (col("n1") * col("n2"))).as("cos"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("qid"), col("vec_id"), round(col("cos"), 6).as("cosine"),
          col("rn"))
        .orderBy("qid", "rn")
    }),

    // Two-stage ANN, the production retrieval pattern: (1) candidate
    // generation — multi-table LSH bucket probe (union of 3 tables'
    // buckets, higher recall than ss03's single table), ids only through
    // the join; (2) exact re-rank — candidates join back their full
    // vectors and the true cosine picks top-5. Work scales with candidate
    // count (bucket-bounded), never corpus²; the query side is broadcast.
    "ss05_ann_rerank" -> ((s, dir) => {
      val sigs = multiTableSigs(s, dir)
      val qs = sigs.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("tb"), col("sig"))
      val cands = broadcast(qs).join(sigs, Seq("tb", "sig"))
        .filter(col("vec_id") =!= col("qid"))
        .select("qid", "vec_id").distinct()
      val e = emb(s, dir)
      val qv = e.filter(col("vec_id") < 10).select(col("vec_id").as("qid"),
        col("v").as("v1"), col("nrm").as("n1"))
      val cv = e.select(col("vec_id"), col("v").as("v2"), col("nrm").as("n2"))
      val w = Window.partitionBy("qid").orderBy(desc("cos"), asc("vec_id"))
      cands.join(cv, "vec_id").join(broadcast(qv), "qid")
        .select(col("qid"), col("vec_id"),
          (dot12 / (col("n1") * col("n2"))).as("cos"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("qid"), col("vec_id"), round(col("cos"), 6).as("cosine"),
          col("rn"))
        .orderBy("qid", "rn")
    }),

    // Embedding near-dup, UNBOUNDED corpus scale path: multi-table
    // hyperplane LSH (3 independent tables amplify recall: a pair is a
    // candidate if ANY table buckets it together — recall 1-(1-s^p)^3 for
    // per-plane agreement s), then the exact cosine filter. Only ids travel
    // through the bucket shuffle; vectors join back per candidate pair
    // (dd02's lake pattern). Complements dd05's bounded-window variant,
    // which assumes near-dups are id-adjacent; this one has no such
    // assumption and its cost follows bucket sizes, not n².
    "dd07_embedding_lsh_neardup" -> ((s, dir) =>
      embeddingNearDupPairs(s, dir).orderBy("id1", "id2")),

    // Embedding near-dup: bounded candidate window, rounded-cosine flag.
    // Candidates come from an offset EXPLODE (ids only) + equi-joins, not
    // a range-predicate nested loop; the vectors join back per pair.
    "dd05_embedding_neardup" -> ((s, dir) => {
      val e = emb(s, dir)
      val candidates = e.filter(col("vec_id") < 100)
        .select(col("vec_id").as("id1"),
          explode(sequence(lit(1), lit(20))).as("k"))
        .select(col("id1"), (col("id1") + col("k")).as("id2"))
      val a = e.select(col("vec_id").as("id1"), col("v").as("v1"), col("nrm").as("n1"))
      val b = e.select(col("vec_id").as("id2"), col("v").as("v2"), col("nrm").as("n2"))
      candidates.join(b, "id2").join(a, "id1")
        .select(col("id1"), col("id2"),
          round(dot12 / (col("n1") * col("n2")), 6).as("cosine"))
        .withColumn("near_dup", (col("cosine") >= 0.3).cast("int"))
        .orderBy("id1", "id2")
    }),

    // Per-label centroid outlier scan — the embedding-quality audit of a
    // training corpus (mislabeled / off-manifold vectors): each vector's
    // cosine to its label centroid, flagged when below threshold. The
    // hash-stability trap here is CROSS-ROW float math: a double sum
    // depends on partial-agg order, so centroid sums are accumulated in
    // exact fixed-point BIGINT (floor(x·10⁴) per element — order-free,
    // overflow-safe to ~10¹⁴ vectors/label) and become doubles once,
    // row-locally. Only (label, idx, q) triples shuffle; the centroid
    // table is labels × dim (tiny) and broadcasts back for the row-local
    // cosine — one corpus scan for sums, one for scoring.
    "ss06_embedding_outliers" -> ((s, dir) => {
      val e = emb(s, dir)
      val fx = Tables(s, dir, "embeddings").select(col("label"),
        posexplode(fxQuant).as(Seq("idx", "q")))
      val cents = fx.groupBy("label", "idx")
        .agg(sum("q").as("sq"), count(lit(1)).as("n"))
        .select(col("label"), col("idx"),
          (col("sq").cast("double") / (col("n").cast("double") * 10000.0)).as("c"))
        .groupBy("label")
        .agg(array_sort(collect_list(struct(col("idx"), col("c")))).as("cs"))
        .select(col("label"), expr("transform(cs, s -> s.c)").as("cent"))
      val cdot = GraftFunctions.dot_product(col("v"), col("cent"))
      val cnrm = sqrt(GraftFunctions.dot_product(col("cent"), col("cent")))
      e.join(broadcast(cents), "label")
        .select(col("vec_id"), col("label"),
          round(cdot / (col("nrm") * cnrm), 6).as("centroid_cos"))
        .withColumn("is_outlier", (col("centroid_cos") < 0.5).cast("int"))
        .orderBy("vec_id")
    }),

    // K-means clustering, 2 Lloyd iterations — the ML primitive the IVF
    // scaladoc defers to ("k-means over a sample, persisted as a broadcast
    // table"), in EXACT integer arithmetic so the iteration is bit-stable
    // across engines and partial-agg orders: vectors and centroids live in
    // fixed-point BIGINT (floor(x·10⁴)); assignment maximizes the integer
    // dot product (deterministic ties → smaller centroid id); the update
    // step is exact BIGINT element sums with truncating integer division
    // (Spark `div` == DuckDB `//` semantics, verified for negatives).
    // Scale shape: assignment is the canonical n·k broadcast (k centroid
    // rows, one corpus scan per iteration, top-1 via a k-row-bounded
    // window); the update shuffles (cid, idx, q) triples — never vectors
    // with payloads — and the centroid table is k × dim, always broadcast.
    "ss07_kmeans" -> ((s, dir) => {
      val k = 8
      val e = Tables(s, dir, "embeddings").select(col("vec_id"),
        fxQuant.as("vq"))
      val init = e.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        .limit(k).select(col("vec_id").as("cid"), col("vq").as("cq"))
      // codegen BIGINT dot (LongVecFold): the aggregate(zip_with(...))
      // lambda chain ran interpreted per element over the n·k crossJoin —
      // the assignment pass's whole cost (r20; same null/mismatch/wrap
      // semantics, exact integer math preserved)
      val idot = GraftFunctions.dot_product_long(col("vq"), col("cq"))
      // top-1-of-k as an argmax STRUCT AGGREGATE, not a window (r21): the
      // row_number pick sorted the whole n·k frame inside a vec_id-keyed
      // WindowExec, where max(struct(dot, -cid, vq)) partial-aggregates
      // map-side to one candidate per vector per task — the dd13
      // keep-best pattern. Identical pick: desc(dot) = max dot, tie →
      // asc(cid) = max(-cid); (dot, -cid) pairs are distinct within a
      // vector (cid unique), so the trailing vq leg is never compared —
      // it just rides the winner out of the aggregate.
      def assign(cents: DataFrame): DataFrame =
        e.crossJoin(broadcast(cents))
          .select(col("vec_id"), col("vq"), col("cid"), idot.as("dot"))
          .groupBy("vec_id")
          .agg(max(struct(col("dot"), (-col("cid")).as("nc"),
            col("vq").as("v"))).as("m"))
          .select(col("vec_id"), col("m.v").as("vq"),
            (-col("m.nc")).as("cid"))
      def update(assigned: DataFrame): DataFrame =
        assigned.select(col("cid"), posexplode(col("vq")).as(Seq("idx", "q")))
          .groupBy("cid", "idx").agg(sum("q").as("sq"), count(lit(1)).as("n"))
          .select(col("cid"), col("idx"), expr("sq div n").as("cq_e"))
          .groupBy("cid")
          .agg(array_sort(collect_list(struct(col("idx"), col("cq_e")))).as("cs"))
          .select(col("cid"), expr("transform(cs, s -> s.cq_e)").as("cq"))
      // materialized: a2 feeds BOTH the sizes aggregate and the final
      // join, and as lineage those are two independent subtrees — the
      // whole 2-iteration pipeline (both corpus crossJoins, both top-1
      // windows, the centroid update) would execute twice. Same
      // discipline as ss04's coarse-assignment scratch.
      val a2 = Scratch.materialized(
        assign(update(assign(init))), "ss07_assign", dir)
      val sizes = a2.groupBy("cid").agg(count(lit(1)).as("n_members"))
      a2.join(broadcast(sizes), "cid")
        .select(col("vec_id"), col("cid").as("cluster_id"), col("n_members"))
        .orderBy("vec_id")
    }),

    // Maximum-inner-product search (MIPS) — the retrieval shape for
    // recommendation scoring, where magnitude matters and cosine's
    // normalization is wrong. Bucketing uses the norm-augmentation
    // reduction (Bachrach et al. 2014): corpus vectors grow a 65th
    // component √(M² − ‖x‖²) (M = max corpus norm, a broadcast 1-row
    // aggregate), queries grow 0 — every augmented corpus vector then has
    // norm exactly M, so angular (hyperplane-LSH) proximity to the
    // augmented query IS inner-product order, and the existing
    // sign-of-dot bucketing applies unchanged over 65 dims. Candidates =
    // corpus rows sharing the augmented signature bucket with a query
    // (ids + 64 floats through the broadcast join, queries are 3 rows);
    // exact raw-dot re-rank on the candidates. Deterministic: max() is
    // order-free, the augmented component is IEEE sqrt over doubles both
    // engines compute identically, and plane dots accumulate
    // sequentially with the augmented term added last.
    "ss10_mips" -> ((s, dir) => mipsTopK(emb(s, dir))),

    // Product-quantization ANN — the memory-compression scale path for
    // vector search: each 64-dim vector is encoded as M=4 sub-space codes
    // (argmin-L2 against a K=4-entry codebook per sub-space), shrinking a
    // vector to 4 small ints; queries score candidates via asymmetric
    // distance computation (ADC) — per-(sub-space, code) distance tables
    // summed over M, never touching the original vectors at probe time.
    // Everything is exact BIGINT arithmetic on fixed-point (×10⁴)
    // components, and the codebook is a PINNED deterministic integer grid
    // (a trained codebook would come from ss07's integer k-means; pinning
    // keeps the oracle closed-form). The grid formula must keep the d term
    // LIVE and the values at component scale: the original (…+ d*7) % 7
    // killed the per-dimension term (d*7 ≡ 0 mod 7) and its ±0.75 values
    // dwarfed unit-vector components (~0.125), so every vector encoded to
    // the SAME code tuple and the query returned data-independent output —
    // mirrored in the oracle, invisible to the hash gate (r10 review
    // finding; PqCodeSpec now pins code diversity). d*11 % 8 cycles the
    // pattern per dimension; ±4 × 500 spans [-0.20, 0.15] fixed-point,
    // the scale of real components. Scale shape: encode = one corpus scan
    // × a 16-row broadcast codebook, codes-only (vec_id, m, code) through
    // every shuffle; probe = a 48-row broadcast distance table joined to
    // the codes, one partial-agg sum per (query, vector), and the top-3
    // rank filter is a WindowGroupLimit (map-side partial top-k). The
    // query's own row is excluded (vec_id ≠ qid), like every other ANN
    // query in the suite — without it rank 1 is always the query itself
    // and effective top-k silently drops to 2.
    "ss09_pq_ann" -> ((s, dir) => {
      val e = fxEmb(s, dir)
      val cb = pqCodebook(s)
      val codes = pqCodes(e, cb)
      val dtab = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("vq"))
        .crossJoin(broadcast(cb))
        .select(col("qid"), col("m"), col("c"), pqSqDist.as("qd"))
      val w = Window.partitionBy("qid").orderBy(asc("adist"), asc("vec_id"))
      codes.join(broadcast(dtab), Seq("m"))
        .where(col("code") === col("c") && col("vec_id") =!= col("qid"))
        .groupBy("qid", "vec_id")
        .agg(sum(col("qd")).as("adist"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("qid"), col("vec_id"), col("adist"),
          col("rk").cast("int").as("rk"))
        .orderBy("qid", "rk")
    }),

    // Hybrid search — reciprocal-rank fusion (RRF, k = 60, Cormack et
    // al.) of a LEXICAL ranking (tx21's BM25 top-20 over the shared
    // query terms) and a DENSE ranking (cosine top-20 against the pinned
    // query vector vec_id 0; doc_id and vec_id share the id space, the
    // mm06 pairing contract). Fusion arithmetic is exact fixed point:
    // rrf_fp = Σ 10⁶ div (60 + rank) — BIGINT floor division, no floats.
    // Shape at scale: each ranker ends in a TakeOrdered k-cut, so the
    // fusion join touches two ≤ k-row lists (broadcast-sized); the rank
    // windows run over those bounded lists, never the corpus; the heavy
    // lifting stays inside the scale-shaped rankers themselves.
    "ss11_rrf_hybrid" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("v").as("v1"), col("nrm").as("n1"))
      val dense = e.filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("v").as("v2"), col("nrm").as("n2"))
        .crossJoin(broadcast(q))
        .select(col("vec_id"), (dot12 / (col("n1") * col("n2"))).as("cos"))
        .orderBy(desc("cos"), asc("vec_id")).limit(20)
        .withColumn("dense_rank", row_number()
          .over(Window.orderBy(desc("cos"), asc("vec_id"))).cast("int"))
        .select(col("vec_id").as("doc_id"), col("dense_rank"))
      val lex = CorpusFilters.bm25Scores(s, dir)
        .orderBy(desc("score_fp"), asc("doc_id")).limit(20)
        .withColumn("lex_rank", row_number()
          .over(Window.orderBy(desc("score_fp"), asc("doc_id"))).cast("int"))
        .select(col("doc_id"), col("lex_rank"))
      lex.join(dense, Seq("doc_id"), "full_outer")
        .select(col("doc_id"), col("lex_rank"), col("dense_rank"),
          (coalesce(expr("1000000 div (60 + lex_rank)"), lit(0L))
            + coalesce(expr("1000000 div (60 + dense_rank)"), lit(0L)))
            .as("rrf_fp"))
        .orderBy(desc("rrf_fp"), asc("doc_id")).limit(10)
    }),
  )

  private val oWith =
    """WITH d AS (SELECT vec_id, label,
      |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      | n AS (SELECT vec_id, label, v,
      |   sqrt(list_inner_product(v, v)) AS nrm FROM d)""".stripMargin

  /** The ss03 hyperplanes as exact DuckDB double literals: `Double.toString`
    * round-trips, so `list_inner_product(v, [literals])` in DuckDB runs the
    * same sequential double accumulation as [[graft.functions.DotProduct]]
    * over the same operands — bit-identical signs, identical buckets.
    */
  private def planeSql(p: Array[Double]): String =
    p.map(_.toString).mkString("[", ", ", "]")

  private def sigSqlFor(seed: Int, nPlanes: Int): String =
    planesSeeded(seed, nPlanes, 64).zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_inner_product(v, ${planeSql(p)}) > 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString(" + ")

  /** ss10's augmented-plane signature: the first 64 plane components dot
    * the raw vector (same sequential accumulation as
    * [[graft.functions.DotProduct]]), the 65th multiplies the augmented
    * component expression (`augExpr` — √(M²−‖x‖²) for corpus rows, 0 for
    * queries), added last — mirroring the Spark side exactly.
    */
  private def mipsSigSql(augExpr: String): String =
    planesSeeded(77, MinPlanes, 65).zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_inner_product(v, ${planeSql(p.take(64))}) + " +
        s"(${p(64)}) * ($augExpr) > 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString(" + ")

  /** dd07's pair computation as a CTE chain ending in `pairs(id1, id2,
    * cosine)` — shared by the dd07 oracle and dd08's recursive-CTE oracle
    * (which must splice it under `WITH RECURSIVE`).
    *
    * The candidate CTE is a UNION of one EQUIJOIN per band, not a single
    * join on `s0=s0 OR s1=s1 OR s2=s2`: the OR form denies DuckDB a hash
    * join and nested-loops all ~n²/2 ordered pairs — minutes-to-hours at
    * the 10× ladder fixture's 20 K vectors, where the oracle now also has
    * to run (r17 verdict #2). UNION dedups, so the set is identical to
    * the DISTINCT-over-OR original (any-band-matches, id1 < id2).
    *
    * Parameterized by the corpus size because the SPARK side is:
    * [[multiTableSigs]] grows the plane count (`planesFor`) and the table
    * count with n, so a pinned 4-plane/3-table oracle replicates the
    * engine's candidate generation only up to TargetBucket·2^MinPlanes =
    * 2 048 vectors. Past that (the 10×+ ladder fixtures) the two would
    * disagree on LSH RECALL — pairs the oracle's coarser buckets catch
    * but the engine's finer ones miss — which the exact-cosine filter
    * cannot repair. Verify regenerates these entries per input dir
    * ([[SparkEntry.oracleSqlFor]]); at every driver scale the generated
    * SQL is the pinned one.
    */
  /** The engine-mirroring multi-table signature layout as SQL, ONCE for
    * every oracle that replicates [[multiTableSigs]]: table count from
    * `bandTablesFor(planesFor(n))`, per-table signature column `s$t` at
    * seed `42 + t`. Returns (table count, the sig-column list to splice
    * into the `sg` CTE). One generator so the seed/plane/table geometry
    * cannot drift between the pairs CTE and ss05's candidate stage — a
    * one-sided edit previously surfaced only as a ladder-scale hash-gate
    * failure, never as a unit-test failure (r18 ADVICE).
    */
  private def multiTableSigSqlFor(n: Long): (Int, String) = {
    val nPlanes = planesFor(math.max(n, 1L))
    val nTables = bandTablesFor(nPlanes)
    (nTables, (0 until nTables)
      .map(t => s"${sigSqlFor(42 + t, nPlanes)} AS s$t")
      .mkString(",\n   "))
  }

  /** UNION of one per-table candidate branch over `sg`'s s0..s(T−1)
    * columns — UNION (dedups) of EQUIJOINS, never one OR-join; see the
    * [[nearDupPairsCteSqlFor]] note on DuckDB join feasibility.
    */
  private def unionBranchesFor(nTables: Int)(branch: Int => String): String =
    (0 until nTables).map(branch).mkString("\n  UNION\n  ")

  private[operators] def nearDupPairsCteSqlFor(n: Long): String = {
    val (nTables, sigCols) = multiTableSigSqlFor(n)
    val unionBranches = unionBranchesFor(nTables) { t =>
      s"""SELECT a.vec_id AS id1, b.vec_id AS id2
         |   FROM sg a JOIN sg b ON a.s$t = b.s$t AND b.vec_id > a.vec_id"""
        .stripMargin
    }
    // n/sg/pairs are MATERIALIZED: splice sites reference them repeatedly
    // (sg once per union branch; pairs twice in every edges CTE, and
    // gr01's iteration chain walks `ed` six times), and DuckDB's default
    // is to re-INLINE a CTE per reference — at the 30x fixture that
    // re-ran the whole LSH candidate join per iteration and spilled
    // >77 GB of temp before dying, where the materialized form answers
    // in seconds (measured r19). A hint only: result set is identical.
    s"""d AS (SELECT vec_id,
       |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       | n AS MATERIALIZED (SELECT vec_id, v,
       |   sqrt(list_inner_product(v, v)) AS nrm FROM d),
       | sg AS MATERIALIZED (SELECT vec_id, v, nrm,
       |   $sigCols FROM n),
       | c AS ($unionBranches),
       | pairs AS MATERIALIZED (SELECT id1, id2, cosine FROM (
       |   SELECT c.id1, c.id2,
       |    ROUND(list_inner_product(x.v, y.v) / (x.nrm * y.nrm), 6) AS cosine
       |   FROM c JOIN n x ON x.vec_id = c.id1 JOIN n y ON y.vec_id = c.id2)
       |  WHERE cosine >= 0.4)""".stripMargin
  }

  /** The pinned-scale form (4 planes / 3 tables — exact for every corpus
    * up to 2 048 vectors, i.e. all driver testdata scale factors).
    */
  private[graft] def nearDupPairsCteSql: String =
    nearDupPairsCteSqlFor(PinnedOracleVectors)

  /** Any n that [[planesFor]] pins to MinPlanes; sf0.1 ships 2 000. */
  private[operators] val PinnedOracleVectors = 2000L

  /** Scale-dependent oracle entries regenerated for a corpus of `n`
    * vectors — SimilarityOps' own; DedupClusters and GraphOps expose their
    * spliced-CTE twins the same way, merged in [[SparkEntry.oracleSqlFor]].
    */
  private[graft] override def oracleAt(n: Long): Map[String, String] = Map(
    "ss03_ann_lsh" -> ss03Sql(n),
    "ss08_filtered_ann" -> ss08Sql(n),
    "ss05_ann_rerank" -> ss05Sql(n),
    "dd07_embedding_lsh_neardup" ->
      s"""WITH ${nearDupPairsCteSqlFor(n)}
         |SELECT id1, id2, cosine FROM pairs ORDER BY id1, id2""".stripMargin)

  /** ss03's single-table bucket join, its signature at planesFor(n) —
    * the Spark side computes `planesFor(embCount)` planes, so this oracle
    * is in the same corpus-size-dependent class as the pairs CTE.
    */
  private def ss03Sql(n: Long): String =
    s"""$oWith,
       | s AS (SELECT vec_id, v, nrm,
       |   ${sigSqlFor(42, planesFor(math.max(n, 1L)))} AS sig FROM n),
       | j AS (SELECT q.vec_id AS qid, c.vec_id,
       |   list_inner_product(q.v, c.v) / (q.nrm * c.nrm) AS cos
       |  FROM s q JOIN s c ON c.sig = q.sig AND c.vec_id <> q.vec_id
       |  WHERE q.vec_id < 10),
       | r AS (SELECT qid, vec_id, cos, ROW_NUMBER() OVER (
       |   PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn FROM j)
       |SELECT qid, vec_id, ROUND(cos, 6) AS cosine, CAST(rn AS INT) AS rn
       |FROM r WHERE rn <= 5 ORDER BY qid, rn""".stripMargin

  private def ss08Sql(n: Long): String =
    s"""WITH d AS (SELECT vec_id, label,
       |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       | n AS (SELECT vec_id, label, v,
       |   sqrt(list_inner_product(v, v)) AS nrm FROM d),
       | s AS (SELECT vec_id, label, v, nrm,
       |   ${sigSqlFor(42, planesFor(math.max(n, 1L)))} AS sig FROM n),
       | j AS (SELECT q.vec_id AS qid, q.label, c.vec_id,
       |   list_inner_product(q.v, c.v) / (q.nrm * c.nrm) AS cos
       |  FROM s q JOIN s c ON c.sig = q.sig AND c.label = q.label
       |   AND c.vec_id <> q.vec_id
       |  WHERE q.vec_id < 10),
       | r AS (SELECT qid, label, vec_id, cos, ROW_NUMBER() OVER (
       |   PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn FROM j)
       |SELECT qid, label, vec_id, ROUND(cos, 6) AS cosine,
       | CAST(rn AS INT) AS rn
       |FROM r WHERE rn <= 3 ORDER BY qid, rn""".stripMargin

  /** ss05's oracle for a corpus of `n` vectors: same sig columns as the
    * pairs CTE (one per table, planesFor(n) planes), UNION-per-table
    * candidates (hash-joinable — see the nearDupPairsCteSqlFor note).
    */
  private def ss05Sql(n: Long): String = {
    val (nTables, sigCols) = multiTableSigSqlFor(n)
    val unionBranches = unionBranchesFor(nTables) { t =>
      s"""SELECT q.vec_id AS qid, b.vec_id
         |  FROM sg q JOIN sg b ON q.s$t = b.s$t AND b.vec_id <> q.vec_id
         |  WHERE q.vec_id < 10""".stripMargin
    }
    s"""$oWith,
       | sg AS (SELECT vec_id,
       |   $sigCols FROM n),
       | c AS ($unionBranches),
       | j AS (SELECT c.qid, c.vec_id,
       |   list_inner_product(x.v, y.v) / (x.nrm * y.nrm) AS cos
       |  FROM c JOIN n x ON x.vec_id = c.qid JOIN n y ON y.vec_id = c.vec_id),
       | r AS (SELECT qid, vec_id, cos, ROW_NUMBER() OVER (
       |   PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn FROM j)
       |SELECT qid, vec_id, ROUND(cos, 6) AS cosine, CAST(rn AS INT) AS rn
       |FROM r WHERE rn <= 5 ORDER BY qid, rn""".stripMargin
  }

  val oracle: Map[String, String] = ListMap(
    "ss01_cosine_pairs" ->
      s"""$oWith
         |SELECT a.vec_id AS id1, b.vec_id AS id2,
         | ROUND(list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
         |FROM n a JOIN n b ON b.vec_id = a.vec_id + 1 ORDER BY id1""".stripMargin,

    "ss02_topk_bruteforce" ->
      s"""$oWith,
         | s AS (SELECT q.vec_id AS qid, c.vec_id,
         |   list_inner_product(q.v, c.v) / (q.nrm * c.nrm) AS cos
         |  FROM n q JOIN n c ON c.vec_id <> q.vec_id WHERE q.vec_id < 10),
         | r AS (SELECT qid, vec_id, cos, ROW_NUMBER() OVER (
         |   PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn FROM s)
         |SELECT qid, vec_id, ROUND(cos, 6) AS cosine, CAST(rn AS INT) AS rn
         |FROM r WHERE rn <= 5 ORDER BY qid, rn""".stripMargin,

    "ss03_ann_lsh" -> ss03Sql(PinnedOracleVectors),

    // ss03's oracle with the label folded into the bucket join.
    "ss08_filtered_ann" -> ss08Sql(PinnedOracleVectors),

    "ss04_ann_ivf" ->
      s"""$oWith,
         | cents AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n
         |   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
         | asg0 AS (SELECT e.vec_id, e.v, e.nrm, c.cid,
         |     list_inner_product(e.v, c.cv) / (e.nrm * c.cn) AS csim,
         |     ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |       ORDER BY list_inner_product(e.v, c.cv) / (e.nrm * c.cn) DESC,
         |         c.cid) AS crk
         |   FROM n e CROSS JOIN cents c),
         | asg AS (SELECT vec_id, v, nrm, cid FROM asg0 WHERE crk <= 2),
         | j AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id,
         |   list_inner_product(q.v, c.v) / (q.nrm * c.nrm) AS cos
         |  FROM asg q JOIN asg c ON c.cid = q.cid AND c.vec_id <> q.vec_id
         |  WHERE q.vec_id < 10),
         | r AS (SELECT qid, vec_id, cos, ROW_NUMBER() OVER (
         |   PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn FROM j)
         |SELECT qid, vec_id, ROUND(cos, 6) AS cosine, CAST(rn AS INT) AS rn
         |FROM r WHERE rn <= 5 ORDER BY qid, rn""".stripMargin,

    // Candidate buckets replicated exactly (3 tables' planes as double
    // literals), then the same exact-cosine re-rank — the two-stage
    // pipeline is gated end to end, not just its final ordering.
    "ss05_ann_rerank" -> ss05Sql(PinnedOracleVectors),

    // The 3 hash tables' planes inlined as exact double literals — DuckDB
    // reproduces every bucket, so candidate generation is replicated
    // bit-for-bit and the cosine filter gates an exact quantity.
    "dd07_embedding_lsh_neardup" ->
      s"""WITH $nearDupPairsCteSql
         |SELECT id1, id2, cosine FROM pairs ORDER BY id1, id2""".stripMargin,

    "dd05_embedding_neardup" ->
      s"""$oWith
         |SELECT a.vec_id AS id1, b.vec_id AS id2,
         | ROUND(list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine,
         | CAST(ROUND(list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.3
         |   AS INT) AS near_dup
         |FROM n a JOIN n b ON b.vec_id > a.vec_id AND b.vec_id <= a.vec_id + 20
         |WHERE a.vec_id < 100 ORDER BY id1, id2""".stripMargin,

    // Same fixed-point centroid construction (exact BIGINT sums → one
    // double conversion), same sequential-accumulation cosine.
    "ss06_embedding_outliers" ->
      s"""WITH fx AS (SELECT label, t.i - 1 AS idx,
         |    CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 10000) AS BIGINT) AS q
         |  FROM embeddings CROSS JOIN UNNEST(range(1, len(embedding) + 1)) t(i)),
         | ce AS (SELECT label, idx,
         |    CAST(SUM(q) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 10000.0) AS c
         |   FROM fx GROUP BY label, idx),
         | cent AS (SELECT label, list(c ORDER BY idx) AS cent FROM ce GROUP BY label),
         | d AS (SELECT vec_id, label,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         | n AS (SELECT vec_id, label, v, sqrt(list_inner_product(v, v)) AS nrm FROM d),
         | sc AS (SELECT n.vec_id, n.label,
         |    ROUND(list_inner_product(n.v, cent.cent)
         |      / (n.nrm * sqrt(list_inner_product(cent.cent, cent.cent))), 6)
         |      AS centroid_cos
         |  FROM n JOIN cent USING (label))
         |SELECT vec_id, label, centroid_cos,
         | CAST(centroid_cos < 0.5 AS INT) AS is_outlier
         |FROM sc ORDER BY vec_id""".stripMargin,

    // Both Lloyd iterations unrolled; all arithmetic integer (fixed-point
    // vectors, HUGEINT sums truncation-divided), so every assignment and
    // centroid is bit-equal to the Spark path.
    "ss07_kmeans" ->
      """WITH v AS (SELECT vec_id,
        |   list_transform(embedding,
        |     x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS vq
        |  FROM embeddings),
        | c0 AS (SELECT vec_id AS cid, vq AS cq FROM v
        |   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        | d1 AS (SELECT v.vec_id, v.vq, c.cid,
        |    list_sum(list_transform(range(1, len(v.vq) + 1),
        |      i -> v.vq[i] * c.cq[i])) AS dot
        |   FROM v CROSS JOIN c0 c),
        | a1 AS (SELECT vec_id, vq, cid FROM d1
        |   QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
        |     ORDER BY dot DESC, cid) = 1),
        | s1 AS (SELECT cid, t.i AS idx, SUM(vq[t.i]) AS sq, COUNT(*) AS n
        |   FROM a1 CROSS JOIN UNNEST(range(1, len(vq) + 1)) t(i)
        |   GROUP BY cid, t.i),
        | c1 AS (SELECT cid, list(CAST(sq // n AS BIGINT) ORDER BY idx) AS cq
        |   FROM s1 GROUP BY cid),
        | d2 AS (SELECT v.vec_id, c.cid,
        |    list_sum(list_transform(range(1, len(v.vq) + 1),
        |      i -> v.vq[i] * c.cq[i])) AS dot
        |   FROM v CROSS JOIN c1 c),
        | a2 AS (SELECT vec_id, cid FROM d2
        |   QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
        |     ORDER BY dot DESC, cid) = 1),
        | sz AS (SELECT cid, COUNT(*) AS n_members FROM a2 GROUP BY cid)
        |SELECT a2.vec_id, a2.cid AS cluster_id, sz.n_members
        |FROM a2 JOIN sz USING (cid) ORDER BY a2.vec_id""".stripMargin,

    // The MIPS reduction restated: same max-norm aggregate, same IEEE
    // √(M²−‖x‖²) augmentation, same 65-dim plane literals (augmented
    // term added last), same raw-dot re-rank.
    "ss10_mips" ->
      s"""$oWith,
         | mx AS (SELECT MAX(nrm) AS m FROM n),
         | a AS (SELECT vec_id, v,
         |   sqrt(mx.m * mx.m - nrm * nrm) AS augc FROM n, mx),
         | c AS (SELECT vec_id, v, ${mipsSigSql("augc")} AS sig FROM a),
         | q AS (SELECT vec_id AS qid, v AS qv, ${mipsSigSql("0.0")} AS sig
         |   FROM a WHERE vec_id < 3),
         | j AS (SELECT q.qid, c.vec_id,
         |   round(list_inner_product(q.qv, c.v), 6) AS dot
         |  FROM c JOIN q USING (sig) WHERE c.vec_id <> q.qid)
         |SELECT qid, vec_id, dot, CAST(rk AS INT) AS rk FROM (
         | SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
         |   ORDER BY dot DESC, vec_id) AS rk FROM j)
         |WHERE rk <= 3 ORDER BY qid, rk""".stripMargin,

    // The PQ contract restated: same ×10⁴ fixed-point, same pinned
    // codebook grid, same argmin encode (ties → smallest code), same ADC
    // sum — all BIGINT, so the hash cannot drift.
    "ss09_pq_ann" ->
      """WITH v AS (SELECT vec_id,
        |   list_transform(embedding,
        |     x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS vq
        |  FROM embeddings),
        | cb AS (SELECT t1.m, t2.c,
        |   list_transform(range(0, 16),
        |     d -> CAST(((t1.m*31 + t2.c*13 + d*11) % 8 - 4) * 500 AS BIGINT))
        |     AS cq
        |  FROM range(4) t1(m), range(4) t2(c)),
        | enc AS (SELECT vec_id, m, c,
        |   list_sum(list_transform(range(1, 17),
        |     i -> (vq[m*16 + i] - cq[i]) * (vq[m*16 + i] - cq[i]))) AS dist
        |  FROM v CROSS JOIN cb),
        | codes AS (SELECT vec_id, m, c AS code FROM enc
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, m
        |    ORDER BY dist, c) = 1),
        | dt AS (SELECT v.vec_id AS qid, cb.m, cb.c,
        |   CAST(list_sum(list_transform(range(1, 17),
        |     i -> (vq[cb.m*16 + i] - cq[i]) * (vq[cb.m*16 + i] - cq[i])))
        |     AS BIGINT) AS qd
        |  FROM v CROSS JOIN cb WHERE v.vec_id < 3),
        | ad AS (SELECT qid, vec_id, CAST(SUM(qd) AS BIGINT) AS adist
        |  FROM codes JOIN dt ON codes.m = dt.m AND codes.code = dt.c
        |   AND codes.vec_id <> dt.qid
        |  GROUP BY qid, vec_id)
        |SELECT qid, vec_id, adist, CAST(rk AS INT) AS rk FROM (
        | SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
        |   ORDER BY adist, vec_id) AS rk FROM ad)
        |WHERE rk <= 3 ORDER BY qid, rk""".stripMargin,

    // Both rankers restated (tx21's BM25 chain + the dense cosine cut),
    // fused with the same 10⁶ div (60 + rank) fixed point.
    "ss11_rrf_hybrid" ->
      s"""$oWith,
         | dq AS (SELECT v AS v1, nrm AS n1 FROM n WHERE vec_id = 0),
         | dl0 AS (SELECT c.vec_id,
         |   list_inner_product(dq.v1, c.v) / (dq.n1 * c.nrm) AS cos
         |  FROM n c, dq WHERE c.vec_id <> 0),
         | dtop AS (SELECT vec_id, CAST(rn AS INT) AS dense_rank FROM (
         |   SELECT vec_id, ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id)
         |     AS rn FROM (SELECT * FROM dl0 ORDER BY cos DESC, vec_id
         |       LIMIT 20)) WHERE rn <= 20),
         | ${CorpusFilters.bm25OracleCteSql("b")},
         | bagg AS (SELECT doc_id, CAST(SUM(contrib) AS BIGINT) AS score_fp
         |   FROM bsc GROUP BY doc_id),
         | ltop AS (SELECT doc_id, CAST(rn AS INT) AS lex_rank FROM (
         |   SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score_fp DESC,
         |     doc_id) AS rn FROM (SELECT * FROM bagg
         |       ORDER BY score_fp DESC, doc_id LIMIT 20)) WHERE rn <= 20)
         |SELECT COALESCE(l.doc_id, d2.vec_id) AS doc_id,
         | l.lex_rank, d2.dense_rank,
         | CAST(COALESCE(1000000 // (60 + l.lex_rank), 0)
         |   + COALESCE(1000000 // (60 + d2.dense_rank), 0) AS BIGINT)
         |  AS rrf_fp
         |FROM ltop l FULL OUTER JOIN dtop d2 ON l.doc_id = d2.vec_id
         |ORDER BY rrf_fp DESC, doc_id LIMIT 10""".stripMargin,
  )
}
