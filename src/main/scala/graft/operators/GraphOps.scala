package graft.operators

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QuerySuite

/** Graph analytics over the near-duplicate graph — the step after clustering
  * (dd06/dd08): WHICH member of a duplicate group is the canonical one?
  * Degree/PageRank centrality ranks representatives (the doc most connected
  * to its near-dups is the best keeper), the same computation as web-graph
  * dedup canonicalization.
  *
  * PageRank here is FIXED-POINT INTEGER arithmetic (rank × 10⁹ as BIGINT,
  * damping 0.85 applied as ×17 `div` 20): every operation is exact integer
  * math, so the result is bit-identical regardless of partial-aggregation
  * order — float PageRank cannot be hash-gated (double addition is not
  * associative across partitionings), integer PageRank can. The oracle
  * unrolls the same five iterations as chained CTEs with DuckDB's `//`.
  *
  * Scale notes (100 TB): each iteration is one edge⋈rank join (shuffle on
  * src) + one contribution sum (shuffle on dst) over frames bounded by
  * |edges| — the canonical distributed PageRank shape. The edge table (with
  * per-src degree baked in) is materialized ONCE via the scratch-table lake
  * pattern, so iterations re-read a parquet table instead of re-running LSH
  * candidate generation; [[Checkpoints.truncate]] cuts lineage per
  * iteration — executor-local by default, reliable `checkpoint` when
  * `spark.graft.checkpoint.dir` points at shared storage (the multi-node
  * mode: rounds survive executor loss).
  */
object GraphOps extends QuerySuite {
  private val Iters = 5
  private val Scale = 1000000000L // rank fixed-point: 1.0 == 10^9
  private val Base = 150000000L   // (1 - d) × Scale with d = 0.85
  private val MaxHops = 8         // gr03 bounded-BFS horizon

  val queries: Map[String, Q] = ListMap(
    // PageRank over the undirected embedding near-dup graph (dd07's pairs).
    // Nodes = vectors with at least one near-dup edge; rank_scaled is the
    // fixed-point rank after 5 iterations (uniform 1.0 start).
    "gr01_pagerank" -> ((s, dir) => {
      // pairs from the SHARED gr_pairs scratch (gr02/rec01's table)
      pageRanks(s, dir, edgesWithDeg(s, dir, sharedPairs(s, dir)))
        .orderBy("node")
    }),

    // Bounded-hop BFS: hop distance (≤ 8) from the graph's canonical
    // (minimum-id) node — "how far is each doc from the cluster anchor",
    // the k-hop-neighborhood primitive. Iterative min-relaxation, k-capped:
    // each round is one edge⋈frontier join + a min-aggregate (2 shuffles,
    // frames ≤ |edges|), lineage truncated per round like gr01/dd06, with
    // an early exit once a round reaches no new node (see bfsHops — first
    // reach IS the true distance, so later rounds are the identity).
    // Unreached nodes are excluded (null distance).
    "gr03_bfs_hops" -> ((s, dir) => {
      // a strict projection of gr01's edge table — sharing the scratch
      // halves the session's corpus-scale edge materializations (r14
      // review; the r10 gr_pairs consolidation one level up).
      // sharedPairs is resolved ONCE and threaded into both consumers:
      // every call re-plans the LSH candidate tree AND re-runs the
      // corpus-count job that sizes the broadcast hint
      // (embeddingNearDupPairs' count()), so the r14 body's second call
      // put a repeat count job + plan analysis inside the query — the
      // +0.5 s the r15 instrumented adjudication isolated in gr03's
      // pre-loop prefix (driver-bench gr03 1.6 → 2.1 s).
      val pairs = sharedPairs(s, dir)
      val edges = edgesWithDeg(s, dir, pairs).select("src", "dst")
      bfsHops(s, dir, edges, pairs).orderBy("node")
    }),

    // Per-node triangle count over the same near-dup graph — the local
    // clustering signal (a doc whose near-dups are ALSO near-dups of each
    // other sits inside a tight duplicate clique, not a hub of incidental
    // matches). Edges arrive canonically ordered (id1 < id2), so each
    // triangle a<b<c is enumerated exactly once: path join (a,b)+(b,c),
    // closure check against (a,c). Two shuffle joins on edge endpoints;
    // near-dup graphs are bounded-degree, so the open-path frame stays
    // O(|E| · avg-degree) — the standard distributed triangle shape.
    "gr02_triangles" -> ((s, dir) => {
      // materialized: the three join branches are independent subtrees —
      // as lineage each would re-run the signature self-join + cosine
      // scoring; from scratch parquet they are three cheap re-reads
      val pairs = sharedPairs(s, dir)
      val e1 = pairs.select(col("id1").as("a"), col("id2").as("b"))
      val e2 = pairs.select(col("id1").as("b"), col("id2").as("c"))
      val e3 = pairs.select(col("id1").as("a"), col("id2").as("c"))
      val tris = e1.join(e2, "b").join(e3, Seq("a", "c"))
      tris.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
        .groupBy("node")
        .agg(count(lit(1)).as("n_triangles"))
        .orderBy("node")
    }),

    // gr03's BFS through Spark 4's NATIVE recursive CTE (`WITH RECURSIVE`
    // → `UnionLoopExec`) — the declarative twin of gr03's hand-driven
    // loop, over the same near-dup graph, same hop horizon, same answer.
    // Contrast documented: the native path re-joins the FULL accumulated
    // walk each step (its frontier is the UNION ALL running set, deduped
    // only at the final MIN) — WALK ENUMERATION, exponential in hops on a
    // dense duplicate-clique graph — while gr03's explicit loop
    // checkpoints a min-distance frontier per round (state bounded by
    // |nodes| — the PRODUCTION path at lake scale; the native form buys
    // planner integration on provably sparse graphs). [[recursiveWalk]]
    // refuses to detonate: a one-aggregate branching-factor estimate
    // rejects dense graphs before the loop runs.
    // pairs materialized (shared with gr02): UnionLoopExec re-evaluates
    // the recursive leg's subtree EVERY iteration, and the degree estimate
    // is one more pass — un-materialized, the LSH candidate join + cosine
    // scoring would run up to hops+1 times per query
    "rec01_recursive_cte" -> ((s, dir) =>
      recursiveWalk(s, sharedPairs(s, dir), MaxHops)),
  )

  /** Walk-guard geometric tail: sum over levels ≈ deg(src)·B^(h−1)·tail
    * with tail = min(B/(B−1), h). Both factors bound the geometric sum
    * (B^h−1)/(B−1) from above, so the estimate stays an overcount — but
    * B/(B−1) alone DIVERGES as B → 1⁺ (a huge sparse graph with one
    * 3-node path pushes bGlobal to 1+1e-8 and the tail to ~1e8,
    * spuriously refusing a ~8-row walk), while h is the exact tail at
    * B = 1 and the continuous ceiling near it (r14 review).
    */
  private[operators] def walkTailFactor(b: Double, hops: Int): Double =
    if (b > 1.0) math.min(b / (b - 1.0), hops.toDouble)
    else hops.toDouble

  /** The ONE materialized near-dup pair table all four graph queries
    * build on (gr02/rec01 always used it; gr01/gr03 used to re-run the
    * LSH candidate join + cosine scoring into their own edge tables).
    */
  private def sharedPairs(s: SparkSession, dir: String): DataFrame =
    Scratch.materialized(
      SimilarityOps.embeddingNearDupPairs(s, dir)
        .select(col("id1"), col("id2")), "gr_pairs", dir)

  /** The ONE symmetrized (src, dst, deg-of-src) edge table gr01 and gr03
    * share — gr03 projects (src, dst) off it. The two queries used to
    * materialize near-identical corpus-scale edge tables under separate
    * tags ('gr01_edges' + 'gr03_edges'), doubling the session's edge
    * scratch builds (r14 review). Takes the resolved `pairs` frame rather
    * than re-deriving it so callers that also need pairs pay the
    * sharedPairs resolution (count job + LSH plan) exactly once.
    */
  private def edgesWithDeg(s: SparkSession, dir: String,
      pairs: DataFrame): DataFrame = {
    val sym = pairs.select(col("id1").as("src"), col("id2").as("dst"))
      .union(pairs.select(col("id2").as("src"), col("id1").as("dst")))
    val deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
    Scratch.materialized(sym.join(deg, "src"), "gr01_edges", dir)
  }

  /** gr01's iteration loop behind a scratch-cache PEEK (the rounds are
    * eager jobs — a cached result must skip them entirely, not just the
    * final write) and a try/finally that releases the last round's
    * checkpoint on ANY exit (a failed scratch write used to strand it in
    * executor storage for the session — r10 review; the
    * connectedComponents discipline).
    */
  private def pageRanks(s: SparkSession, dir: String,
      edges: DataFrame): DataFrame = {
    val hit = Scratch.peek(s, "gr01_ranks", dir, Seq(edges))
    if (hit.isDefined) return hit.get
    // edges is a materialized parquet scratch table, so the count is a
    // footer-metadata job — it sizes the small-loop mode (see
    // DedupClusters.withSmallLoopConfs: partitioning derived from |edges|,
    // AQE's per-stage job fan-out off for the 5 bounded rounds; a graph
    // past the cap runs unchanged)
    DedupClusters.withSmallLoopConfs(s, edges.count()) {
    // the edge table is LOOP-INVARIANT: hash-partition it on the join key
    // ONCE and checkpoint (partitioning survives through LogicalRDD), so
    // none of the [[Iters]] rounds re-shuffles the big side — and each
    // round's ranks leave their dst-keyed aggregate hash-partitioned on
    // the SAME key, so the join plans with no exchange at all; a round is
    // ONE shuffle (the contribution aggregate). Before this every round
    // re-shuffled the full edge frame from its parquet scan (r21; guide
    // §2.4 across iterations — the CC prefix gets the same treatment).
    val pe = edges.repartition(col("src")).transform(Checkpoints.truncate)
    var ranks = pe.select(col("src").as("node")).distinct()
      .withColumn("r", lit(Scale))
    var lastCp: Option[DataFrame] = None
    try {
      for (_ <- 1 to Iters) {
        ranks = pe.join(ranks, pe("src") === ranks("node"))
          // integer div: exact, order-independent
          .select(col("dst"), expr("r div deg").as("contrib"))
          .groupBy("dst")
          .agg(sum(col("contrib")).as("csum"))
          .select(col("dst").as("node"),
            (lit(Base) + expr("(csum * 17) div 20")).as("r"))
          .transform(Checkpoints.truncate)
        lastCp.foreach(Checkpoints.release) // superseded round
        lastCp = Some(ranks)
      }
      // final ranks land in a scratch table (lake pattern) so the last
      // checkpoint's executor storage is released too — the query leaves
      // zero persisted RDDs behind. Keyed on the edges scratch:
      // ranks' lineage ends at a checkpoint (no input files), and the
      // edges path changes whenever the embeddings content does.
      Scratch.materialized(
        ranks.select(col("node"), col("r").as("rank_scaled")),
        "gr01_ranks", dir, Seq(edges))
    } finally {
      lastCp.foreach(Checkpoints.release)
      Checkpoints.release(pe)
    }
    }
  }

  /** gr03's relaxation loop — same peek + finally discipline as gr01.
    * Early exit (r20): synchronous unit-weight relaxation from a single
    * source assigns every node its TRUE distance the first time it is
    * reached (a neighbor of a distance-d node can only propose ≥ d), so
    * once a round reaches no NEW node the frontier is empty and every
    * later round is the identity — the reached-count convergence check is
    * one footer-cheap count on the round's own checkpoint, and the
    * 8-round horizon stays the upper bound, so results are unchanged on
    * any graph while a diameter-3 near-dup component stops paying 5
    * idempotent rounds of join+agg+checkpoint jobs.
    */
  private def bfsHops(s: SparkSession, dir: String,
      edges: DataFrame, pairs: DataFrame): DataFrame = {
    val hit = Scratch.peek(s, "gr03_hops", dir, Seq(edges))
    if (hit.isDefined) return hit.get
    DedupClusters.withSmallLoopConfs(s, edges.count()) {
    // loop-invariant edge frame pre-partitioned on the join key, like
    // pageRanks above: no per-round edge shuffle
    val pe = edges.select(col("src"), col("dst"))
      .repartition(col("src")).transform(Checkpoints.truncate)
    val srcDf = pairs.agg(min(col("id1")).as("s"))
    var dist = pe.select(col("src").as("node")).distinct()
      .crossJoin(broadcast(srcDf))
      .select(col("node"),
        when(col("node") === col("s"), 0L).as("h"))
    var lastCp: Option[DataFrame] = None
    try {
      var reached = -1L
      var hops = 0
      var frontierOpen = true
      while (frontierOpen && hops < MaxHops) {
        val prop = pe.join(dist, pe("src") === dist("node"))
          .filter(col("h").isNotNull)
          .select(col("dst").as("node"), (col("h") + 1).as("h"))
        dist = dist.union(prop).groupBy("node").agg(min("h").as("h"))
          .transform(Checkpoints.truncate)
        lastCp.foreach(Checkpoints.release)
        lastCp = Some(dist)
        val nowReached = dist.filter(col("h").isNotNull).count()
        frontierOpen = nowReached != reached
        reached = nowReached
        hops += 1
      }
      Scratch.materialized(
        dist.filter(col("h").isNotNull)
          .select(col("node"), col("h").cast("int").as("hops")),
        "gr03_hops", dir, Seq(edges))
    } finally {
      lastCp.foreach(Checkpoints.release)
      Checkpoints.release(pe)
    }
    }
  }

  /** Estimated enumerated-path budget for [[recursiveWalk]]: the walk's
    * running UNION ALL set must stay far below shuffle-spill scale, since
    * every step re-joins ALL of it.
    */
  private[operators] val WalkRowBudget = 50L * 1000 * 1000

  /** Min-hop reachability from the graph's minimum-id node via the native
    * recursive CTE, GUARDED by a row budget: path count under walk
    * enumeration grows like m·B^(h−1) with B = Σdeg²/Σdeg (the mean
    * branching factor — the degree a random edge endpoint has). One tiny
    * degree aggregate estimates it up front; a graph estimated past
    * [[WalkRowBudget]] throws instead of detonating, and the error points
    * at gr03_bfs_hops (the checkpointed min-frontier loop, state ≤ |nodes|
    * per round) as the path for dense graphs.
    */
  private[graft] def recursiveWalk(
      s: SparkSession, pairs: DataFrame, hops: Int): DataFrame = {
    // SINGLE-SOURCE estimate: the walk starts from MIN(id1) alone, so its
    // frontier grows like deg(src)·B^(h−1), not m1·B^(h−1). The original
    // m1-based estimate modeled walks from EVERY edge and overstated by
    // |E|/deg(src) — the r11 10× rehearsal refused a walk whose actual
    // enumeration was component-local and far under budget (r11 review,
    // confirmed empirically: 7.2e9 estimated vs sub-budget actual).
    val srcRow = pairs.agg(min(col("id1")).as("s")).head()
    if (!srcRow.isNullAt(0)) {
      val src = srcRow.getLong(0)
      // persisted across the guard's TWO actions (the global moment
      // aggregate and the neighbor-local join below) — without it the
      // full-pairs degree aggregation recomputes per action (r12 ADVICE)
      val degDf = pairs.select(col("id1").as("n"))
        .union(pairs.select(col("id2").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
      val deg = degDf
        .agg(sum(col("d") * col("d")).as("m2"), sum(col("d")).as("m1"),
          sum(when(col("n") === src, col("d"))).as("dsrc"))
        .head()
      if (!deg.isNullAt(1) && deg.getLong(1) > 0) {
        val m1 = deg.getLong(1)
        val bGlobal = math.max(1.0, deg.getLong(0).toDouble / m1.toDouble)
        val dsrc = if (deg.isNullAt(2)) 0L else deg.getLong(2)
        // COMPONENT-LOCAL branching: the graph-wide edge-mean B is diluted
        // by any large sparse component the walk never touches. A dense
        // clique holding the min-id source attached to a big sparse
        // remainder (the characteristic near-dup graph shape) drives B→2
        // while the walk's real branching is the clique degree — the guard
        // would pass and the walk detonate, the exact failure it exists to
        // prevent (r11 ADVICE). The mean degree over src's DIRECT
        // neighbors measures the branching the frontier actually sees in
        // its first expansion; max(global, local) keeps both the diluted-
        // clique undercount and the sparse-source overcount out.
        val nbrDeg = pairs.filter(col("id1") === src).select(col("id2").as("n"))
          .union(pairs.filter(col("id2") === src).select(col("id1").as("n")))
          .distinct()
          .join(degDf, "n")
          .agg(avg(col("d")).as("bl"))
          .head()
        val bLocal =
          if (nbrDeg.isNullAt(0)) 1.0 else math.max(1.0, nbrDeg.getDouble(0))
        val b = math.max(bGlobal, bLocal)
        val tail = walkTailFactor(b, hops)
        val est = dsrc.toDouble * math.pow(b, (hops - 1).toDouble) * tail
        if (est > WalkRowBudget.toDouble) throw new IllegalStateException(
          f"recursive walk refused: ~$est%.3g enumerated paths estimated " +
            f"(source degree $dsrc, branching factor $b%.1f = max(global " +
            f"$bGlobal%.1f, neighbor-local $bLocal%.1f) over $m1 directed " +
            s"edges, budget $WalkRowBudget); this graph is too dense for " +
            "walk enumeration — use gr03_bfs_hops' checkpointed " +
            "min-frontier loop instead")
      }
      } finally degDf.unpersist(false)
    }
    // invocation-unique view name, dropped right after analysis: a fixed
    // name races concurrent invocations on one session (the second
    // createOrReplace would silently swap the first query's graph), and an
    // undropped view pins the pairs plan in the catalog past the query
    val view =
      s"rec01_pairs_${java.util.UUID.randomUUID.toString.replace("-", "")}"
    pairs.createOrReplaceTempView(view)
    try s.sql(
      s"""WITH RECURSIVE walk(node, h) AS (
         |  SELECT MIN(id1) AS node, 0 AS h FROM $view
         |  UNION ALL
         |  SELECT e.dst, walk.h + 1
         |  FROM (SELECT id1 AS src, id2 AS dst FROM $view
         |        UNION ALL
         |        SELECT id2, id1 FROM $view) e
         |  JOIN walk ON walk.node = e.src
         |  WHERE walk.h < $hops
         |) SELECT node, CAST(MIN(h) AS INT) AS hops FROM walk
         |WHERE node IS NOT NULL
         |GROUP BY node ORDER BY node""".stripMargin)
    finally s.catalog.dropTempView(view) // sql() analyzes eagerly
  }

  /** The five iterations unrolled as chained CTEs over the spliced dd07
    * pair chain — same integer math (`//` = Spark's `div` on positives).
    */
  private def iterSql: String = (1 to Iters).map { k =>
    val prev = if (k == 1) "r0" else s"i${k - 1}"
    s""" i$k AS (SELECT e.dst AS node,
       |   CAST($Base + (SUM(r.r // d.deg) * 17) // 20 AS BIGINT) AS r
       |  FROM ed e JOIN dg d ON d.src = e.src JOIN $prev r ON r.node = e.src
       |  GROUP BY e.dst)""".stripMargin
  }.mkString(",\n")

  private def gr01Sql(pairsCte: String): String =
    s"""WITH $pairsCte,
       | ed AS (SELECT id1 AS src, id2 AS dst FROM pairs
       |        UNION ALL SELECT id2, id1 FROM pairs),
       | dg AS (SELECT src, COUNT(*) AS deg FROM ed GROUP BY src),
       | r0 AS (SELECT src AS node, CAST($Scale AS BIGINT) AS r FROM dg),
       |$iterSql
       |SELECT node, r AS rank_scaled FROM i$Iters ORDER BY node""".stripMargin

  // Hop-bounded reachability as a recursive CTE: UNION dedups (node, h)
  // states and h < MaxHops bounds the recursion, so min-per-node equals
  // the iterative relaxation exactly. (rec01 restates the same walk; in
  // DuckDB the UNION-dedup keeps its state small, and min-per-node is
  // identical to the UNION ALL enumeration's.)
  private def bfsSql(pairsCte: String): String =
    s"""WITH RECURSIVE $pairsCte,
       | ed AS (SELECT id1 AS src, id2 AS dst FROM pairs
       |        UNION ALL SELECT id2, id1 FROM pairs),
       | walk(node, h) AS (
       |   SELECT (SELECT MIN(id1) FROM pairs), 0
       |   UNION
       |   SELECT e.dst, walk.h + 1 FROM ed e
       |   JOIN walk ON walk.node = e.src WHERE walk.h < $MaxHops)
       |SELECT node, CAST(MIN(h) AS INT) AS hops FROM walk
       |WHERE node IS NOT NULL
       |GROUP BY node ORDER BY node""".stripMargin

  private def gr02Sql(pairsCte: String): String =
    s"""WITH $pairsCte,
       | tri AS (
       |  SELECT e1.id1 AS a, e1.id2 AS b, e2.id2 AS c
       |  FROM pairs e1
       |  JOIN pairs e2 ON e2.id1 = e1.id2
       |  JOIN pairs e3 ON e3.id1 = e1.id1 AND e3.id2 = e2.id2),
       | m AS (SELECT a AS node FROM tri UNION ALL
       |       SELECT b FROM tri UNION ALL SELECT c FROM tri)
       |SELECT node, COUNT(*) AS n_triangles FROM m
       |GROUP BY node ORDER BY node""".stripMargin

  private def oracleOver(pairsCte: String): Map[String, String] = ListMap(
    "gr01_pagerank" -> gr01Sql(pairsCte),
    "gr03_bfs_hops" -> bfsSql(pairsCte),
    "rec01_recursive_cte" -> bfsSql(pairsCte),
    "gr02_triangles" -> gr02Sql(pairsCte))

  /** The graph oracles' edge set is dd07's pair computation, whose LSH
    * geometry is corpus-size-dependent on the Spark side — regenerated per
    * input dir via [[SparkEntry.oracleSqlFor]] like dd07/dd08/ss05.
    */
  private[graft] override def oracleAt(n: Long): Map[String, String] =
    oracleOver(SimilarityOps.nearDupPairsCteSqlFor(n))

  val oracle: Map[String, String] =
    oracleOver(SimilarityOps.nearDupPairsCteSql)
}
