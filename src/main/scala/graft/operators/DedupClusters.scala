package graft.operators

import scala.collection.immutable.ListMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QuerySuite, Tables}

/** Duplicate-cluster assignment: near-dup PAIRS (from the LSH path) →
  * connected components → one canonical representative per component (the
  * minimum doc_id). This is the step an LLM training pipeline actually
  * needs — "keep one copy per duplicate group", not just a pair listing.
  *
  * Two kernels, chosen by edge count (see [[connectedComponents]]):
  *  - up to [[LocalGraph.cap]] edges, the edge plan is evaluated once and
  *    union-find runs on the driver;
  *  - above it, large-star/small-star contraction runs on the cluster in
  *    O(log² n) rounds on any topology, each round truncated by
  *    [[Checkpoints.truncate]] so plans stay O(1) — executor-local by
  *    default, reliable `checkpoint` to shared storage when
  *    `spark.graft.checkpoint.dir` is set (the 1000-executor mode).
  * Both certify their labels against the original edges before they are
  * served, and neither touches the session's conf. There is no
  * transitive-closure pair blowup (the oracle's recursive CTE enumerates
  * reachability, which is only tractable because the corpus is small).
  */
object DedupClusters extends QuerySuite {
  /** Which kernel produced the labels of the LAST cache-miss
    * [[connectedComponents]] call ("local" | "contraction") — test
    * observability only: the specs pin that each path really ran, which no
    * black-box assertion on the (identical) labels can show.
    */
  @volatile private[operators] var lastKernel: String = ""

  /** Min-label connected components over undirected `edges` (a, b) for all
    * `nodes` (id). Returns (id, cluster_id = component min id); both keep
    * the id column's type.
    *
    * `scratch` = (tag, cacheKey): the FINAL labels land in a scratch
    * parquet table (the lake pattern — [[Scratch.materialized]]), so the
    * query leaves ZERO persisted RDDs behind. Stable keys (dd06/dd08 pass
    * the input dir) let repeat invocations reuse the result; the default
    * key is unique per call — no reuse, safe for arbitrary inputs.
    *
    * Integral ids on a graph of at most [[LocalGraph.cap]] edges take the
    * LOCAL path: one job collects the edges, union-find labels the edge
    * endpoints on the driver, and the labels are written with the isolated
    * nodes attached by one aggregate inside the scratch write. Any other
    * graph runs star contraction; `maxIter` bounds its rounds.
    */
  def connectedComponents(
      nodes: DataFrame, edges: DataFrame,
      scratch: (String, String) = ("cc", java.util.UUID.randomUUID.toString),
      maxIter: Int = 40): DataFrame = {
    // cache peek FIRST: the key is derivable from (tag, key, inputs)
    // alone, and both kernels run eager jobs before the final write
    val cached = Scratch.peek(nodes.sparkSession,
      scratch._1, scratch._2, Seq(nodes, edges))
    if (cached.isDefined) return cached.get
    // keyed on nodes+edges: the labels frame has no input files of its
    // own, so without them a rewritten source would serve stale cluster
    // ids from the scratch cache
    def materialize(labels: DataFrame): DataFrame = Scratch.materialized(
      labels.select(col("id"), col("lab").as("cluster_id")),
      scratch._1, scratch._2, Seq(nodes, edges))
    val allIds = nodes.select(col("id"))
      .union(edges.select(col("a").as("id")))
      .union(edges.select(col("b").as("id")))
    val idType = allIds.schema("id").dataType
    val local =
      if (LocalGraph.integral(idType)) LocalGraph.collect(edges, "a", "b")
      else None
    local match {
      case Some(g) =>
        lastKernel = "local"
        materialize(localLabels(nodes, g, idType))
      case None =>
        lastKernel = "contraction"
        contract(allIds.distinct(), edges, maxIter)(materialize)
    }
  }

  /** The local path's (id, lab) for every node. Union-find labels each
    * endpoint with its component minimum; the nodes in no edge attach in
    * the caller's scratch write through ONE aggregate, a left join's work
    * in a single shuffle: each node proposes its own id, each endpoint its
    * label, and min() keeps the label (never above its node's id). A null
    * endpoint proposes the null id the distributed id union carries.
    */
  private def localLabels(nodes: DataFrame, g: LocalGraph.Graph,
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val s = nodes.sparkSession
    val root = LocalGraph.components(g)
    // the certificate, on the driver: every collected edge joins equal
    // labels
    val violations =
      g.src.indices.count(k => root(g.src(k)) != root(g.dst(k)))
    if (violations > 0) throw certificateFailure(violations)
    val labels = LocalGraph.frame(s, "id" -> g.ids, "lab" -> root.map(g.ids))
      .select(col("id").cast(idType), col("lab").cast(idType))
    val nullId =
      if (g.sawNull) Seq(s.range(1).select(lit(null).cast(idType).as("id"),
        lit(null).cast(idType).as("lab")))
      else Nil
    (nodes.select(col("id"), col("id").as("lab")) +: labels +: nullId)
      .reduce(_ union _)
      .groupBy("id").agg(min(col("lab")).as("lab"))
  }

  private def certificateFailure(violations: Long) = new IllegalStateException(
    s"connectedComponents certificate failed: $violations original " +
      "edges connect different labels after convergence")

  /** The distributed path: LARGE-STAR / SMALL-STAR contraction (Kiveris
    * et al., "Connected Components in MapReduce and Beyond") labels every
    * id in `allIds` in O(log² n) rounds on ANY topology (min-label
    * propagation takes O(diameter), and the r13 30× rehearsal chained
    * copies into >40-diameter components). Each round is one groupBy + one
    * join per star over a shrinking edge set, truncated per round; it has
    * converged when the edge multiset's (count, hash) signature stops
    * changing, and an independent certificate over the ORIGINAL edges
    * then proves the labels. They are written through `materialize`
    * before the rounds' checkpoints are released.
    */
  private def contract(allIds: DataFrame, edges: DataFrame,
      maxIter: Int)(materialize: DataFrame => DataFrame): DataFrame = {
    val ids = allIds.transform(Checkpoints.truncate)
    var star = edges.select(col("a"), col("b"))
      .filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b"))
      .distinct()
      .transform(Checkpoints.truncate)
    // round frames are evictable once superseded; `ids` lives until the
    // final labels join and is released in the finally (evicting it with
    // the rounds left the labels join reading unpersisted local-checkpoint
    // blocks — CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)
    val cps = scala.collection.mutable.ArrayBuffer[DataFrame](star)
    def freeSuperseded(): Unit = {
      // keep the newest two frames (current star + its input may still be
      // referenced by the next phase's lazy plan until materialized)
      while (cps.length > 2) { Checkpoints.release(cps.remove(0)) }
    }
    def signature(e: DataFrame): (Long, BigDecimal) = {
      val r = e.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("a"), col("b")).cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)"))).head()
      (r.getLong(0), BigDecimal(r.getDecimal(1)))
    }
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("b").as("a"), col("a").as("b")))
      val m = sym.groupBy("a")
        .agg(least(min(col("b")), col("a")).as("m"))
      sym.join(m, "a").filter(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b"))
      val m = dir.groupBy("a").agg(min(col("b")).as("m"))
      dir.join(m, "a")
        .select(col("b").as("a"), col("m").as("b"))
        .union(m.select(col("a"), col("m").as("b")))
        .filter(col("a") =!= col("b"))
        .distinct()
    }
    try {
      var sig = signature(star)
      var converged = false
      var round = 0
      while (!converged && round < maxIter) {
        val next = smallStar(largeStar(star))
          .transform(Checkpoints.truncate)
        cps += next
        val nextSig = signature(next)
        converged = nextSig == sig
        sig = nextSig
        star = next
        round += 1
        freeSuperseded()
      }
      if (!converged) throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter star rounds; " +
          "raise maxIter — contraction stalls only on adversarial inputs " +
          "far beyond log2(n) rounds")
      // post-convergence the edge set is a forest of stars centered at the
      // component minima: label = star center, own id for centers and
      // isolated nodes. min() tolerates (and the certificate would expose)
      // any would-be duplicate hanging.
      val centers = star.groupBy("a").agg(min(col("b")).as("lab0"))
      val labels = ids.join(centers, ids("id") === centers("a"), "left")
        .select(col("id"), coalesce(col("lab0"), col("id")).as("lab"))
        .transform(Checkpoints.truncate)
      cps += labels
      // the certificate: every ORIGINAL edge connects equal labels. This
      // implies component-constant labels; with label values always drawn
      // from member ids and label(u) <= u by construction, the constant is
      // the component minimum. Independent of the loop's own convergence
      // test.
      val la = labels.select(col("id").as("a"), col("lab").as("labA"))
      val lb = labels.select(col("id").as("b"), col("lab").as("labB"))
      val violations = edges.select(col("a"), col("b"))
        .join(la, "a").join(lb, "b")
        .filter(col("labA") =!= col("labB")).count()
      if (violations > 0) throw certificateFailure(violations)
      materialize(labels)
    } finally {
      // failure paths (non-convergence, a failed certificate) must not
      // strand the round checkpoints in executor memory for the session's
      // lifetime
      cps.foreach(Checkpoints.release)
      Checkpoints.release(ids)
    }
  }

  val queries: Map[String, Q] = ListMap(
    // Every document with its duplicate-cluster id (min doc_id of the
    // component over J >= 0.8 LSH pairs) and the cluster's size. Singletons
    // keep their own id — downstream "keep one per cluster" is then a
    // filter on doc_id = cluster_id. cluster_size is a partial AGGREGATE
    // joined back, never a cluster-keyed count window: a mega-cluster
    // (boilerplate/total-dup corpus) would put its whole membership in one
    // window partition on one task, where the aggregate map-side-combines
    // and the join probe AQE-skew-splits. Both consumers read the tiny
    // materialized CC scratch table, so nothing recomputes.
    "dd06_dedup_clusters" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").select(col("doc_id").as("id"))
      val pairs = MinHashDedup.lshPairs(s, dir)
        .select(col("id1").as("a"), col("id2").as("b"))
      val cc = connectedComponents(docs, pairs, ("dd06_cc", dir))
        .select(col("id").as("doc_id"), col("cluster_id"))
      val sizes = cc.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      cc.join(sizes, "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
        .orderBy(asc("doc_id"))
    }),

    // SEMANTIC dedup clusters: same min-label CC kernel over the embedding
    // near-dup pairs (dd07's multi-table LSH path) instead of text-LSH
    // pairs — "keep one per semantic duplicate group", the
    // embedding-space twin of dd06. `keep` marks the representative.
    // cluster_size via aggregate + join-back (see dd06 — no cluster-keyed
    // window; a mega-cluster must never land on one task).
    "dd08_semantic_clusters" -> ((s, dir) => {
      val nodes = Tables(s, dir, "embeddings").select(col("vec_id").as("id"))
      val pairs = SimilarityOps.embeddingNearDupPairs(s, dir)
        .select(col("id1").as("a"), col("id2").as("b"))
      val cc = connectedComponents(nodes, pairs, ("dd08_cc", dir))
        .select(col("id").as("vec_id"), col("cluster_id"))
      val sizes = cc.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      cc.join(sizes, "cluster_id")
        .select(col("vec_id"), col("cluster_id"), col("cluster_size"),
          (col("vec_id") === col("cluster_id")).cast("int").as("keep"))
        .orderBy(asc("vec_id"))
    }),

    // Leakage-free train/val/test split: the split is a hash of the
    // near-dup CLUSTER id, not the document id, so every member of a
    // duplicate group lands in the same split — assigning near-identical
    // docs to train AND eval is the classic contamination bug this
    // operator exists to prevent. 90/5/5 by the first 16 bits of
    // md5(cluster_id); the invariant (same cluster ⇒ same split) holds by
    // construction, and the whole thing rides dd06's CC output — one hash
    // + one broadcast-free projection on top.
    "tx16_leakage_split" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").select(col("doc_id").as("id"))
      val pairs = MinHashDedup.lshPairs(s, dir)
        .select(col("id1").as("a"), col("id2").as("b"))
      connectedComponents(docs, pairs, ("dd06_cc", dir))
        .select(col("id").as("doc_id"), col("cluster_id"))
        .withColumn("bucket", expr(
          "cast(conv(substring(md5(cast(cluster_id as string)), 1, 4), 16, 10) as int) % 100"))
        .withColumn("split",
          when(col("bucket") < 90, "train")
            .when(col("bucket") < 95, "val").otherwise("test"))
        .orderBy(asc("doc_id"))
    }),

    // Quality-aware survivor selection: keep the HIGHEST-quality member of
    // each near-dup cluster (ties → smallest id), not the smallest id —
    // the dedup policy an LLM-data pipeline actually wants (drop the
    // low-quality near-copy, keep the clean one). Rides dd06's CC output
    // (shared scratch tag — the clustering is computed once per run) and
    // tx17's integer logit; the per-cluster argmax is a struct-max
    // aggregation (map-side partial, one candidate per cluster per task),
    // never a per-cluster window.
    "dd13_keep_best" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").select(col("doc_id").as("id"))
      val pairs = MinHashDedup.lshPairs(s, dir)
        .select(col("id1").as("a"), col("id2").as("b"))
      val cc = connectedComponents(docs, pairs, ("dd06_cc", dir))
        .select(col("id").as("doc_id"), col("cluster_id"))
      val scored = cc.join(
        TextOps.qualityFeatures(s, dir).select(col("doc_id"), col("logit")),
        "doc_id")
      val best = scored.groupBy("cluster_id")
        .agg(max(struct(col("logit"), (-col("doc_id")).as("nid"))).as("b"))
        .select(col("cluster_id"), (-col("b.nid")).as("keep_id"))
      scored.join(best, "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("logit"),
          (col("doc_id") === col("keep_id")).cast("int").as("keep"))
        .orderBy(asc("doc_id"))
    }),
  )

  /** The shared exact-Jaccard `pairs` CTE body over
    * [[MinHashDedup.shingleCandidatesCteSql]]'s candidates (shingle-keyed +
    * length-prefiltered — provably the same pair set as the old all-pairs
    * join, ~18x cheaper for the oracle engine at sf0.1).
    */
  private def jaccardPairsCteSql: String =
    // MATERIALIZED: every consumer's edges CTE reads pairs twice (both
    // directions), and DuckDB re-inlines per reference by default — see
    // the MinHashDedup.shingleCandidatesCteSql note. Hint only.
    """pairs AS MATERIALIZED (
      |   SELECT c.id1, c.id2
      |   FROM cand c JOIN sh a ON a.doc_id = c.id1
      |    JOIN sh b ON b.doc_id = c.id2
      |   WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |     / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
      |     >= 0.8)""".stripMargin

  /** dd08's reachability oracle over a spliced pairs CTE — a function of
    * the CTE because the pair geometry is corpus-size-dependent on the
    * Spark side (see [[SimilarityOps.nearDupPairsCteSqlFor]]); Verify
    * regenerates via [[oracleAt]] for the actual input dir.
    */
  private def dd08Sql(pairsCte: String): String =
    s"""WITH RECURSIVE
       | $pairsCte,
       | edges AS (SELECT id1 AS a, id2 AS b FROM pairs
       |           UNION ALL SELECT id2, id1 FROM pairs),
       | walk(id, r) AS (
       |   SELECT vec_id, vec_id FROM embeddings
       |   UNION
       |   SELECT e.a, walk.r FROM edges e JOIN walk ON walk.id = e.b)
       |SELECT id AS vec_id, MIN(r) AS cluster_id,
       |  COUNT(*) OVER (PARTITION BY MIN(r)) AS cluster_size,
       |  CAST(id = MIN(r) AS INT) AS keep
       |FROM walk GROUP BY id
       |ORDER BY vec_id""".stripMargin

  private[graft] override def oracleAt(n: Long): Map[String, String] = Map(
    "dd08_semantic_clusters" ->
      dd08Sql(SimilarityOps.nearDupPairsCteSqlFor(n)))

  val oracle: Map[String, String] = ListMap(
    "dd06_dedup_clusters" ->
      s"""WITH RECURSIVE
         | ${MinHashDedup.shingleCandidatesCteSql},
         | $jaccardPairsCteSql,
         | edges AS (SELECT id1 AS a, id2 AS b FROM pairs
        |           UNION ALL SELECT id2, id1 FROM pairs),
        | walk(id, r) AS (
        |   SELECT doc_id, doc_id FROM documents
        |   UNION
        |   SELECT e.a, walk.r FROM edges e JOIN walk ON walk.id = e.b)
        |SELECT id AS doc_id, MIN(r) AS cluster_id,
        |  COUNT(*) OVER (PARTITION BY MIN(r)) AS cluster_size
        |FROM walk GROUP BY id
        |ORDER BY doc_id""".stripMargin,

    // Same reachability oracle over dd07's exact pair computation (the
    // plane-literal CTE chain spliced under WITH RECURSIVE).
    "dd08_semantic_clusters" -> dd08Sql(SimilarityOps.nearDupPairsCteSql),

    // dd06's reachability CTE, then the same md5-of-cluster split rule.
    "tx16_leakage_split" ->
      s"""WITH RECURSIVE
         | ${MinHashDedup.shingleCandidatesCteSql},
         | $jaccardPairsCteSql,
         | edges AS (SELECT id1 AS a, id2 AS b FROM pairs
        |           UNION ALL SELECT id2, id1 FROM pairs),
        | walk(id, r) AS (
        |   SELECT doc_id, doc_id FROM documents
        |   UNION
        |   SELECT e.a, walk.r FROM edges e JOIN walk ON walk.id = e.b),
        | cl AS (SELECT id AS doc_id, MIN(r) AS cluster_id
        |   FROM walk GROUP BY id),
        | bk AS (SELECT doc_id, cluster_id,
        |   CAST(CAST('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 4)
        |     AS INT) % 100 AS INT) AS bucket FROM cl)
        |SELECT doc_id, cluster_id, bucket,
        | CASE WHEN bucket < 90 THEN 'train'
        |   WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
        |FROM bk ORDER BY doc_id""".stripMargin,

    // dd06's reachability CTE + tx17's logit CTE; the keep rule restated
    // as a deterministic ROW_NUMBER pick (logit DESC, doc_id).
    "dd13_keep_best" ->
      s"""WITH RECURSIVE
         | ${MinHashDedup.shingleCandidatesCteSql},
         | $jaccardPairsCteSql,
         | edges AS (SELECT id1 AS a, id2 AS b FROM pairs
         |           UNION ALL SELECT id2, id1 FROM pairs),
         | walk(id, r) AS (
         |   SELECT doc_id, doc_id FROM documents
         |   UNION
         |   SELECT e.a, walk.r FROM edges e JOIN walk ON walk.id = e.b),
         | cl AS (SELECT id AS doc_id, MIN(r) AS cluster_id
         |   FROM walk GROUP BY id),
         | ${graft.operators.TextOps.qualityLogitCteSql},
         | j AS (SELECT cl.doc_id, cl.cluster_id, ql.logit
         |   FROM cl JOIN ql USING (doc_id)),
         | best AS (SELECT cluster_id, doc_id AS keep_id FROM j
         |   QUALIFY ROW_NUMBER() OVER (PARTITION BY cluster_id
         |     ORDER BY logit DESC, doc_id) = 1)
         |SELECT j.doc_id, j.cluster_id, j.logit,
         | CAST(j.doc_id = best.keep_id AS INT) AS keep
         |FROM j JOIN best USING (cluster_id)
         |ORDER BY j.doc_id""".stripMargin,
  )
}
