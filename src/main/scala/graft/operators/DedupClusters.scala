package graft.operators

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QuerySuite, Tables}

/** Duplicate-cluster assignment: near-dup PAIRS (from the LSH path) →
  * connected components → one canonical representative per component (the
  * minimum doc_id). This is the step an LLM training pipeline actually
  * needs — "keep one copy per duplicate group", not just a pair listing.
  *
  * Algorithm: min-label propagation. `label(x)` starts as `x`; each round
  * every node takes the min label among itself and its neighbors; converges
  * in O(component diameter) rounds. Near-dup components are band-connected
  * near-cliques (diameter rarely above 2-3), so a handful of rounds closes
  * them. Each round is exactly two shuffles (edge join + min-agg) over
  * frames whose size never exceeds |touched nodes| + |edges| — nodes in no
  * pair stay out of the loop and re-attach once at the end; the convergence
  * check reads the round's own aggregate (the previous label rides through
  * the min-agg tagged), so it adds no extra join — and there is no
  * transitive-closure pair blowup
  * (the oracle's recursive CTE enumerates reachability, which is only
  * tractable because the corpus is small; the Spark path scales).
  * [[Checkpoints.truncate]] cuts lineage each round so plans stay O(1) —
  * executor-local by default, reliable `checkpoint` to shared storage when
  * `spark.graft.checkpoint.dir` is set (the 1000-executor mode).
  */
object DedupClusters extends QuerySuite {
  /** Fast-path gates (r13 verdict order-book #1). The star-contraction
    * kernel below converges in O(log² n) rounds on ANY topology — the
    * 30×-proven scale property — but on the shallow near-clique graphs
    * real dedup produces it spends ~6 rounds where plain min-label
    * propagation finishes in 3-4, doubling dd06/dd08's toy-scale bench
    * cost. So: when the canonical edge set is small enough that the
    * prefix is cheap ([[PropagationEdgeCap]]), run propagation for at
    * most [[PropagationRounds]] rounds first, with a geometric-decay gate
    * that bails after two rounds if the per-round change count stops
    * collapsing (chains plateau; cliques halve — the r14 ladder measured
    * both shapes). If a zero-change round PROVES convergence, serve that
    * answer; otherwise the prefix is still not wasted — every node now
    * carries the minimum of its k-hop neighborhood, so the edge set is
    * COMPRESSED through the partial labels (edge → (lab(a), lab(b)),
    * self-loops dropped) and contraction runs on the collapsed graph,
    * with a final pull-back join. Near-clique components (the common
    * dedup shape) collapse to single nodes; a deep path (the
    * 4096-node-path spec; boilerplate chains at 100 TB) barely compresses
    * and proceeds to the O(log² n) kernel after the two-round bail —
    * rounds never follow the data's diameter, preserving the r13 scale
    * fix. Above the cap the prefix is skipped outright: at billions of
    * edges even two speculative rounds are real money and diameter
    * statistics are unknowable up front, while the constant-factor gap
    * the fast path recovers no longer dominates. Both paths feed the same
    * independent edge certificate, so the served labels are proven, not
    * trusted, regardless of which kernel produced them.
    */
  private[operators] val PropagationEdgeCap = 10000000L

  /** Scoped execution confs for an ITERATIVE loop over frames KNOWN to be
    * small (≤ [[PropagationEdgeCap]] rows): shuffle partitioning derived
    * from the row count (~250k rows/partition, never above the session's
    * configured parallelism) and AQE off for the loop's duration. AQE's
    * per-stage re-planning turns every round's join+agg into 4-6 separate
    * stage jobs; on the bounded frames these loops iterate over, the
    * measured cost is driver job-submission gaps, not data (r20 probe:
    * dd08 = 76 jobs of 8-40 ms, wall 2-3x the summed job time). Deriving
    * the partition count from |rows| is the guide §2's scale-adaptive
    * partitioning; above the cap the body runs UNCHANGED (AQE on, session
    * partitioning) — big graphs keep runtime adaptivity. Conf mutation is
    * session-scoped and restored in a finally (the Tables.rawEvents
    * precedent); the engine's drivers run queries sequentially per
    * session, and a concurrent planner on the SAME session would see the
    * loop's values for its duration — documented trade, same class as the
    * scoped legacy-parquet conf.
    */
  private[operators] def withSmallLoopConfs[T](
      s: org.apache.spark.sql.SparkSession, rows: Long)(body: => T): T = {
    val conf = s.conf
    val prevParts =
      try conf.get("spark.sql.shuffle.partitions").toInt
      catch { case _: Exception => -1 }
    if (rows > PropagationEdgeCap || prevParts <= 0) body
    else {
      val prevAqe = conf.get("spark.sql.adaptive.enabled", "true")
      val parts =
        math.max(1L, math.min(prevParts.toLong, rows / 250000L + 1L))
      try {
        conf.set("spark.sql.shuffle.partitions", parts.toString)
        conf.set("spark.sql.adaptive.enabled", "false")
        body
      } finally {
        conf.set("spark.sql.shuffle.partitions", prevParts.toString)
        conf.set("spark.sql.adaptive.enabled", prevAqe)
      }
    }
  }
  // 8, not the 3-4 a pure near-clique needs: real near-dup graphs carry a
  // tail of short chains (rotated embedding copies link transitively —
  // dd08's sf0.1 graph needs 6 rounds), and a miss is no longer a restart
  // since the prefix compresses the edge set either way. Deep topologies
  // still can't stretch the budget — it is a constant, so rounds never
  // follow the data's diameter.
  private[operators] val PropagationRounds = 8

  /** Which kernel produced the labels of the LAST cache-miss
    * [[connectedComponents]] call ("propagation" | "contraction") — test
    * observability only: the fast-path spec pins that shallow graphs are
    * served by propagation and deep ones still reach contraction, which no
    * black-box assertion on the (identical) labels can distinguish.
    */
  @volatile private[operators] var lastKernel: String = ""

  /** How many rounds the propagation prefix of the LAST cache-miss call
    * ran before converging or bailing (-1 = prefix skipped by the edge
    * cap) — test observability only, like [[lastKernel]]: the welded
    * clique+chain spec asserts the decay gate bails EARLY on a mixed
    * shape, which labels alone cannot show (a silent full-budget burn
    * would still produce correct labels, just at 4× the prefix cost).
    */
  @volatile private[operators] var lastPropagationRounds: Int = -1

  /** Min-label connected components over undirected `edges` (a, b) for all
    * `nodes` (id). Returns (id, cluster_id = component min id).
    *
    * `scratch` = (tag, cacheKey): the FINAL labels land in a scratch
    * parquet table (the lake pattern — [[Scratch.materialized]]), so
    * every intermediate round's checkpoint storage is released eagerly
    * before return and the query leaves ZERO persisted RDDs behind. Stable
    * keys (dd06/dd08 pass the input dir) let repeat invocations reuse the
    * result; the default key is unique per call — no reuse, safe for
    * arbitrary inputs.
    *
    * `maxIter` bounds the star-contraction rounds (the guaranteed
    * O(log² n) kernel); the small-graph propagation attempt is a fixed
    * [[PropagationRounds]]-round opportunistic prefix that either proves
    * convergence or hands contraction a label-compressed edge set, so it
    * neither consumes nor extends the contraction budget.
    */
  def connectedComponents(
      nodes: DataFrame, edges: DataFrame,
      scratch: (String, String) = ("cc", java.util.UUID.randomUUID.toString),
      maxIter: Int = 40): DataFrame = {
    // cache peek FIRST: the key is derivable from (tag, key, inputs)
    // alone, and every propagation round below is an EAGER job — without
    // this, dd06/tx16/dd13 each re-ran the whole loop and the cache only
    // saved the final write (r10 review)
    val cached = Scratch.peek(nodes.sparkSession,
      scratch._1, scratch._2, Seq(nodes, edges))
    if (cached.isDefined) return cached.get
    // LARGE-STAR / SMALL-STAR contraction (Kiveris et al., "Connected
    // Components in MapReduce and Beyond"), replacing plain min-label
    // propagation. Propagation converges in O(component ECCENTRICITY)
    // rounds — the label wave is a BFS frontier from each component's
    // minimum, so pointer jumping cannot shortcut it (labels never form
    // chains: every assigned label is already some frontier minimum).
    // The r13 30× rehearsal chained rotated embedding copies into
    // >40-diameter components and dd08 tripped its own non-convergence
    // guard; star contraction converges in O(log² n) rounds on ANY
    // topology — the difference between "rounds follow the data's
    // diameter" and "rounds follow log n" is exactly what a 100 TB corpus
    // with boilerplate chains demands. Each round: large-star points
    // every above-minimum neighbor at the neighborhood minimum, small-star
    // re-hangs the below-self neighbors; both are one groupBy + one join
    // over a strictly-shrinking directed edge set, truncated per phase so
    // lineage never compounds. Convergence = the round leaves the edge
    // multiset untouched (count + order-insensitive hash signature); the
    // loop then proves its answer with an independent certificate — every
    // ORIGINAL edge must connect equal labels — so even a signature
    // collision could not smuggle out wrong clusters.
    val ids = nodes.select(col("id"))
      .union(edges.select(col("a").as("id")))
      .union(edges.select(col("b").as("id")))
      .distinct()
      .transform(Checkpoints.truncate)
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
    // labels over the TOUCHED universe (nodes incident to ≥1 edge) →
    // labels for EVERY node: isolated nodes keep their own id, attached by
    // ONE |V|-sized left join paid once at the end — instead of |V|
    // self-loop rows flowing through every propagation round's join+agg
    // (the r20 fusion's one touched-code regression: dd06's |V| = corpus
    // docs vs a few hundred pair endpoints; at lake scale most of the
    // corpus is in no near-dup pair at all, so per-round frames now track
    // the PAIR graph, not the corpus).
    def extendToAll(partial: DataFrame): DataFrame =
      ids.join(partial, Seq("id"), "left")
        .select(col("id"), coalesce(col("lab"), col("id")).as("lab"))
    // the certificate: every ORIGINAL edge connects equal labels. This
    // implies component-constant labels; with label values always drawn
    // from member ids and label(u) <= u by construction (both kernels only
    // ever assign a label that is some member's id and never above the
    // node's own), the constant is the component minimum. Independent of
    // each kernel's own convergence test, so neither a signature collision
    // nor a propagation bug can produce silently-wrong clusters.
    // `loopLabels` drives the CERTIFICATE joins (it must cover every edge
    // endpoint — the touched universe suffices: a non-self-loop edge's
    // endpoints are touched by definition, and an original self-loop can
    // never violate, so the violation count over touched labels equals
    // the count over full labels); `fullLabels` (defaults to loopLabels)
    // is what MATERIALIZES. Splitting the two keeps the |V|-sized
    // isolated-node extension out of the certificate's two join legs and
    // out of any checkpoint — it is evaluated exactly once, inside the
    // scratch write (r21: the first touched-nodes cut paid ~3 extra fixed
    // jobs at toy scale, visible as dd06 +0.4 s at sf0.1).
    def certifyAndMaterialize(loopLabels: DataFrame,
        fullLabels: DataFrame = null): DataFrame = {
      val la = loopLabels.select(col("id").as("a"), col("lab").as("labA"))
      val lb = loopLabels.select(col("id").as("b"), col("lab").as("labB"))
      val violations = edges.select(col("a"), col("b"))
        .join(la, "a").join(lb, "b")
        .filter(col("labA") =!= col("labB")).count()
      if (violations > 0) throw new IllegalStateException(
        s"connectedComponents certificate failed: $violations original " +
          "edges connect different labels after convergence")
      // keyed on nodes+edges: the labels frame itself ends at a
      // checkpoint (no input files), so without them a rewritten source
      // would serve stale cluster ids from the scratch cache
      Scratch.materialized(
        Option(fullLabels).getOrElse(loopLabels)
          .select(col("id"), col("lab").as("cluster_id")),
        scratch._1, scratch._2, Seq(nodes, edges))
    }
    // bounded min-label propagation prefix (fast path — see the gate
    // scaladoc above). Returns Right(labels) when a zero-change round
    // PROVED convergence, else Left(partial labels from the last round) —
    // the prefix is never wasted: the caller compresses the edge set
    // through the partial labels (each node already carries the minimum of
    // its PropagationRounds-hop neighborhood) before contracting. Every
    // label round is truncated and released once superseded; `sym` is
    // released here (only the returned frame survives, and the caller owns
    // its release).
    def propagationPrefix(): Either[DataFrame, DataFrame] = {
      // TOUCHED nodes only: an isolated node's label is provably its own
      // id in every round (its self-loop min is itself), so the loop
      // iterates over edge endpoints alone and [[extendToAll]] re-attaches
      // the isolated majority once at the end (r21; the r20 driver run
      // read the all-nodes self-loop union as dd06's one regression).
      // NOT separately checkpointed: both consumers (sym, the round-0
      // labels) checkpoint immediately, so the endpoints-distinct runs
      // once inside each of those jobs over the already-checkpointed star
      // — cheaper than a third checkpoint job of its own at toy scale
      val touched = star.select(col("a").as("id"))
        .union(star.select(col("b").as("id")))
        .distinct()
      // symmetrized edges PLUS one self-loop per TOUCHED node: a round is
      // then ONE edge⋈labels join + ONE min-aggregate — the self-loop
      // carries each node's own label into the min (new = least(old, min
      // over nbrs)) and guarantees every touched node a group, so the old
      // third shuffle (the labels-side left join that re-attached nodes
      // with no neighbor and the old label) is gone. The previous label
      // still rides through the SAME aggregate, tagged by b = a, so the
      // changed-count reads the round's own output — exactly the
      // two-shuffle round the object scaladoc documents (r20 plan audit,
      // guide §2.4).
      // sym is LOOP-INVARIANT, so it is hash-partitioned on the join key
      // ONCE before the checkpoint (checkpoints preserve
      // outputPartitioning through LogicalRDD): every round's edge⋈labels
      // join then finds its big side already distributed and inserts no
      // sym-side exchange — per-round shuffle bytes drop from
      // O(|E| + |touched|) to the labels side alone, and since each
      // round's labels frame leaves its min-aggregate hash-partitioned on
      // the SAME key, the join needs no exchange at all: a round is ONE
      // shuffle (the aggregate). One-time cost: the repartition itself,
      // paid once instead of every round (r21; guide §2.4 "share one
      // exchange" applied across loop iterations).
      val sym = star.union(star.select(col("b").as("a"), col("a").as("b")))
        .union(touched.select(col("id").as("a"), col("id").as("b")))
        .repartition(col("b"))
        .transform(Checkpoints.truncate)
      var labels = touched.select(col("id"), col("id").as("lab"))
        .transform(Checkpoints.truncate)
      val rounds = scala.collection.mutable.ArrayBuffer[DataFrame](labels)
      var converged = false
      var bail = false
      var prevChanged = Long.MaxValue
      var round = 0
      while (!converged && !bail && round < PropagationRounds) {
        val next = sym.join(labels.withColumnRenamed("id", "b"), "b")
          .groupBy("a")
          .agg(min(col("lab")).as("newlab"),
            max(when(col("b") === col("a"), col("lab"))).as("oldlab"))
          .select(col("a").as("id"), col("newlab").as("lab"), col("oldlab"))
          .transform(Checkpoints.truncate)
        rounds += next
        // one action per round: the frame is already materialized by the
        // eager truncate, so the changed-count scan reads checkpoint blocks
        val changed = next.filter(col("lab") =!= col("oldlab")).count()
        converged = changed == 0L
        // geometric-decay gate (r14 ladder): a near-clique graph collapses
        // its change count by >2x per round (dd08@sf0.1: 330, 77, 30, 9, 4,
        // 0); a chain-deep graph PLATEAUS (dd08@30x: 33.6k, 27.2k, 25.0k,
        // 24.3k, ... — each chain keeps one frontier moving forever). Once
        // the count stops shrinking below 70% of the previous round's,
        // convergence within any constant budget is hopeless — hand the
        // partial labels to compression + contraction NOW instead of
        // burning the rest of the budget on full-edge-set rounds.
        // cross-multiplied (changed/prevChanged > 0.7): integer division
        // of small counts would round the threshold to 0 and bail every
        // tiny graph on its second round. No overflow: counts are bounded
        // by the node set, itself bounded by the 10M-edge prefix cap.
        if (!converged && round >= 1 && changed * 10L > prevChanged * 7L)
          bail = true
        prevChanged = changed
        labels = next.select(col("id"), col("lab"))
        round += 1
        while (rounds.length > 2) { Checkpoints.release(rounds.remove(0)) }
      }
      Checkpoints.release(sym)
      // the final round's frame is the live result either way; release the
      // one superseded frame still in the buffer
      rounds.dropRight(1).foreach(Checkpoints.release)
      lastPropagationRounds = round
      if (converged) Right(labels) else Left(labels)
    }
    // partial-propagation labels awaiting pull-back through the contraction
    // result; kept OUT of `cps` (freeSuperseded would evict them mid-loop)
    // and released in the finally
    var preLabels: Option[DataFrame] = None
    val sig0 = signature(star)
    // the loop frames are O(|touched| + |E|), but the FINAL extendToAll
    // join and the certificate are |V|-sized and run under the same confs,
    // so the small-loop gate stays conservative on |V| + |E| — an
    // edge-sparse corpus with billions of nodes must keep AQE
    val loopRows = sig0._1 + ids.count()
    try withSmallLoopConfs(nodes.sparkSession, loopRows) {
      var sig = sig0
      lastPropagationRounds = -1 // stays -1 when the cap skips the prefix
      if (sig._1 <= PropagationEdgeCap) {
        propagationPrefix() match {
          case Right(labels) =>
            cps += labels
            lastKernel = "propagation"
            // certificate over the touched labels; the |V|-sized
            // extension evaluates once, inside the scratch write
            return certifyAndMaterialize(labels, extendToAll(labels))
          case Left(partial) =>
            // compress: collapse every edge to its endpoints' partial
            // labels. Near-clique components (the common dedup shape)
            // collapse to single nodes here, so contraction runs on a far
            // smaller graph; a path/chain barely compresses and simply
            // proceeds to the O(log² n) kernel as before.
            preLabels = Some(partial)
            val la = partial.withColumnsRenamed(
              Map("id" -> "a", "lab" -> "labA"))
            val lb = partial.withColumnsRenamed(
              Map("id" -> "b", "lab" -> "labB"))
            val compressed = star.join(la, "a").join(lb, "b")
              .filter(col("labA") =!= col("labB"))
              .select(greatest(col("labA"), col("labB")).as("a"),
                least(col("labA"), col("labB")).as("b"))
              .distinct()
              .transform(Checkpoints.truncate)
            cps += compressed
            star = compressed
            sig = signature(star)
        }
      }
      lastKernel = "contraction"
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
      // any would-be duplicate hanging. With a compressed prefix the
      // star labels the CONTRACTED universe (the distinct partial labels);
      // pulling back through preLabels — final(u) = centers(lab(u)) or
      // lab(u) — is sound because the component minimum m always survives
      // compression as itself: lab(m) ≤ m and lab values never go below
      // the component minimum, so lab(m) = m.
      val centers = star.groupBy("a").agg(min(col("b")).as("lab0"))
      val labels = (preLabels match {
        case None =>
          ids.join(centers, ids("id") === centers("a"), "left")
            .select(col("id"), coalesce(col("lab0"), col("id")).as("lab"))
        case Some(pl) =>
          // pull back through the touched-only partial labels; the
          // isolated nodes attach in the materialize below (sound: the
          // component minimum m survives compression as itself —
          // lab(m) = m — and an isolated node IS its own minimum)
          pl.join(centers, pl("lab") === centers("a"), "left")
            .select(pl("id"), coalesce(col("lab0"), pl("lab")).as("lab"))
      }).transform(Checkpoints.truncate)
      cps += labels
      // the None path's labels already span `ids`; the Some path's span
      // only the touched universe and extend inside the write
      if (preLabels.isEmpty) certifyAndMaterialize(labels)
      else certifyAndMaterialize(labels, extendToAll(labels))
    } finally {
      preLabels.foreach(Checkpoints.release)
      // failure paths (non-convergence, a failed certificate or scratch
      // write) must not strand the round checkpoints in executor memory
      // for the session's lifetime
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

  /** Oracle: exact candidate-keyed Jaccard pairs (the proven dd02
    * equivalent) + recursive-CTE reachability, MIN(reachable) per node.
    * The Spark path propagates labels instead.
    */
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
