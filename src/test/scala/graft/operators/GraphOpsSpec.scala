package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class GraphOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  /** Reference PageRank: same integer math, sequential, over the pair
    * multiset taken in both directions.
    */
  private def referenceRanks(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val edges = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg = edges.groupBy(_._1).map { case (n, es) => n -> es.length.toLong }
    var rank = deg.keys.map(_ -> 1000000000L).toMap
    for (_ <- 1 to 5) {
      val contrib = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      edges.foreach { case (src, dst) =>
        contrib(dst) += rank(src) / deg(src)
      }
      rank = deg.keys.map(n => n -> (150000000L + contrib(n) * 17 / 20)).toMap
    }
    rank
  }

  /** `run` on the local path (default cap) and on the distributed loop
    * (cap forced to 0): each call must be served by that path, and both
    * must return the same schema and rows, which are returned. `run` must
    * miss the scratch cache each time.
    */
  private def bothPaths(run: => DataFrame): Seq[Row] = {
    // collected at once: the next run may clear this run's scratch table
    def served(kernel: String, df: DataFrame) = {
      assert(GraphOps.lastKernel === kernel)
      (df.schema, df.collect().toSeq.sortBy(_.toString))
    }
    val local = served("local", run)
    assert(served("distributed", LocalGraph.withCap(0)(run)) === local)
    local._2
  }

  /** A gr01/gr03 query on sf0.001, past any cached result. */
  private def query(name: String): DataFrame = {
    Scratch.clear(_.startsWith("gr0"))
    GraphOps.queries(name)(spark, dir)
  }

  private def fresh = java.util.UUID.randomUUID.toString

  test("gr01 equals a driver-side fixed-point PageRank, bit for bit") {
    // any partial-agg reordering in the distributed path must not show
    val pairs = SimilarityOps.embeddingNearDupPairs(spark, dir)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "test graph is empty")
    val got = bothPaths(query("gr01_pagerank"))
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == referenceRanks(pairs.toSeq))
  }

  test("gr03: both paths return the same hops on sf0.001") {
    val got = bothPaths(query("gr03_bfs_hops"))
      .map(r => (r.getLong(0), r.getInt(1)))
    val src = SimilarityOps.embeddingNearDupPairs(spark, dir)
      .agg(org.apache.spark.sql.functions.min("id1")).head().getLong(0)
    assert(got.contains((src, 0)) && got.length > 1)
    assert(got.forall(_._2 <= 8))
  }

  test("gr01 and gr03 kernels: both paths agree on duplicate pairs, an " +
    "IntegerType id column and an empty pair set") {
    val s = spark
    import s.implicits._
    // duplicate pairs and a self-loop: PageRank sums over the multiset
    val dup = Seq((1L, 2L), (1L, 2L), (2L, 3L), (3L, 3L), (7L, 8L))
    val ranks = bothPaths(GraphOps.pageRanks(spark, fresh, dup.toDF("id1", "id2")))
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(ranks == referenceRanks(dup))
    val hops = bothPaths(GraphOps.bfsHops(spark, fresh, dup.toDF("id1", "id2")))
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(hops.toMap === Map(1L -> 0, 2L -> 1, 3L -> 2))
    // an IntegerType id column keeps its type on both paths
    val ints = Seq((3, 1), (1, 2)).toDF("id1", "id2")
    val intHops = bothPaths(GraphOps.bfsHops(spark, fresh, ints))
    // the source is min(id1) = 1, not the first pair's id1
    assert(intHops.map(r => r.getInt(0) -> r.getInt(1)).toMap ===
      Map(1 -> 0, 3 -> 1, 2 -> 1))
    assert(bothPaths(GraphOps.pageRanks(spark, fresh, ints))
      .map(_.getInt(0)).toSet === Set(1, 2, 3))
    // an empty pair set ranks and reaches nothing
    val empty = Seq.empty[(Long, Long)].toDF("id1", "id2")
    assert(bothPaths(GraphOps.pageRanks(spark, fresh, empty)).isEmpty)
    assert(bothPaths(GraphOps.bfsHops(spark, fresh, empty)).isEmpty)
  }

  test("gr01 and gr03 kernels: a pair with a null endpoint takes the " +
    "distributed path") {
    val s = spark
    import s.implicits._
    val pairs = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (2L, null)).toDF("id1", "id2")
    for (kernel <- Seq(GraphOps.pageRanks _, GraphOps.bfsHops _)) {
      val got = kernel(spark, fresh, pairs).collect().map(_.toString).sorted
      assert(GraphOps.lastKernel === "distributed")
      assert(got === LocalGraph.withCap(0)(kernel(spark, fresh, pairs))
        .collect().map(_.toString).sorted)
    }
  }

  test("gr01 ranks are positive and higher-degree hubs beat leaves") {
    val rows = GraphOps.queries("gr01_pagerank")(spark, dir).collect()
    assert(rows.forall(_.getLong(1) >= 150000000L))
  }

  test("reliable-checkpoint mode (spark.graft.checkpoint.dir): identical results") {
    // the multi-node mode: rounds checkpoint to a shared dir and survive
    // executor loss; the result must be bit-identical to the local mode.
    // The cap is forced to 0 so the distributed rounds run and checkpoint.
    LocalGraph.withCap(0) {
    Scratch.clear(_.startsWith("gr01_"))
    val local = GraphOps.queries("gr01_pagerank")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // clear gr01's scratch so the second run actually re-iterates instead
    // of re-reading the cached ranks table
    Scratch.clear(_.startsWith("gr01_"))
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    spark.conf.set("spark.graft.checkpoint.dir", ckptDir.toString)
    try {
      val reliable = GraphOps.queries("gr01_pagerank")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(reliable == local)
      // prove the reliable path actually ran: checkpoint files landed —
      // in exactly ONE session subdir (the startsWith guard must compare
      // against the QUALIFIED path Spark stores, or every round re-sets
      // the dir and mints a fresh UUID subdir — r10 review)
      val s = java.nio.file.Files.list(ckptDir)
      val subdirList = try s.iterator().asScala.toSeq finally s.close()
      assert(subdirList.size === 1,
        s"expected one shared checkpoint subdir under $ckptDir, got " +
          subdirList.size)
      // disk growth is bounded (r10 verdict gap #3): every superseded
      // round's checkpoint files are deleted when the next round lands,
      // and the finally-release reclaims the last one — a completed query
      // leaves ZERO rdd-* dirs behind
      val rdds = {
        val l = java.nio.file.Files.list(subdirList.head)
        try l.iterator().asScala.map(_.getFileName.toString).toSeq
        finally l.close()
      }
      assert(rdds.isEmpty,
        s"completed reliable-mode query must reclaim all checkpoints: $rdds")
    } finally {
      spark.conf.unset("spark.graft.checkpoint.dir")
      Scratch.clear(_.startsWith("gr01_"))
      org.apache.commons.io.FileUtils.deleteQuietly(ckptDir.toFile)
    }
    }
  }

  test("recursiveWalk refuses a planted duplicate-clique blowup") {
    // K40: branching factor ≈ 39, estimated paths 1560 · 39⁷ ≈ 2·10¹⁴ —
    // walk enumeration would detonate; the guard must trip BEFORE the
    // recursion runs, and the message must route users to gr03
    val s = spark
    import s.implicits._
    val clique = (for {
      i <- 0 until 40; j <- (i + 1) until 40
    } yield (i.toLong, j.toLong)).toDF("id1", "id2")
    val ex = intercept[IllegalStateException] {
      GraphOps.recursiveWalk(spark, clique, 8)
    }
    assert(ex.getMessage.contains("gr03_bfs_hops"))
  }

  test("recursiveWalk refuses a diluted clique the global-only estimate would pass") {
    // r12 verdict fixture: a 120-clique holding the min-id source attached
    // to a 200k-edge sparse chain — the characteristic near-dup graph
    // shape. The chain dilutes the graph-wide edge-mean branching to
    // B_g ≈ 6, so the pre-r12 global-only estimate dsrc·B_g^(h−1)·tail
    // ≈ 119·6³·1.2 ≈ 3e4 stays far under the 50M budget while the walk's
    // REAL branching is the clique degree (~119): actual enumeration
    // ≈ 119⁴ ≈ 2e8 paths. Only max(global, neighbor-local) refuses.
    val s = spark
    import s.implicits._
    val clique = (for { i <- 0 until 120; j <- (i + 1) until 120 }
      yield (i.toLong, j.toLong)).toDF("id1", "id2")
    val bridge = Seq((119L, 10000L)).toDF("id1", "id2")
    val chain = spark.range(200000L)
      .selectExpr("id + 10000 AS id1", "id + 10001 AS id2")
    val ex = intercept[IllegalStateException] {
      GraphOps.recursiveWalk(spark, clique.union(bridge).union(chain), 4)
    }
    val msg = ex.getMessage
    assert(msg.contains("neighbor-local") && msg.contains("gr03_bfs_hops"))
    // the refusal must be the LOCAL probe's doing: parse both factors out
    // of the message and show the global-only estimate (the pre-r12 guard)
    // would have let this walk detonate
    val m = """max\(global (\d+(?:\.\d+)?), neighbor-local (\d+(?:\.\d+)?)\)""".r
      .findFirstMatchIn(msg)
      .getOrElse(fail(s"guard message format changed: $msg"))
    val (bg, bl) = (m.group(1).toDouble, m.group(2).toDouble)
    assert(bl > bg, s"fixture must make the local factor dominate ($msg)")
    val estGlobal = 119.0 * math.pow(bg, 3) * (bg / (bg - 1.0))
    assert(estGlobal < GraphOps.WalkRowBudget.toDouble,
      "fixture must be one the global-only estimate would have accepted — " +
        s"otherwise this test doesn't pin the bLocal branch (est $estGlobal)")
  }

  test("recursiveWalk accepts a LARGE sparse graph the old m1-estimate refused") {
    // 15k-edge path graph at hops=12: the old estimate modeled walks from
    // every directed edge (m1·B^(h−1) = 30000·2¹¹ ≈ 6.1e7 > 50M budget →
    // spurious refusal), but the walk starts from ONE source of degree 1 —
    // actual enumeration is a few hundred paths (r11 review, confirmed by
    // the 10× rehearsal where rec01 was refused on a sub-budget walk)
    val s = spark
    import s.implicits._
    val path = (0L until 15000L).map(i => (i, i + 1)).toDF("id1", "id2")
    val got = GraphOps.recursiveWalk(spark, path, 12)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(got == (0L to 12L).map(i => i -> i.toInt).toMap)
  }

  test("walk-guard tail factor is capped at hops — no divergence as B -> 1+ (r14)") {
    // B/(B-1) alone explodes for near-1 branching (a huge sparse graph
    // with one short path): the bound must fall back to the exact
    // h-term tail instead of spuriously refusing a tiny walk
    assert(GraphOps.walkTailFactor(1.0 + 1e-8, 8) === 8.0)
    assert(GraphOps.walkTailFactor(1.0, 8) === 8.0)
    assert(GraphOps.walkTailFactor(0.5, 8) === 8.0) // degenerate, still h
    assert(GraphOps.walkTailFactor(2.0, 8) === 2.0) // b/(b-1) binds
    assert(GraphOps.walkTailFactor(1.1, 8) === 8.0) // 11 > h -> h binds
  }

  test("recursiveWalk runs sparse graphs and returns exact min-hops") {
    // path graph 0-1-2-...-9: well under budget; hops = node index
    val s = spark
    import s.implicits._
    val path = (0L until 9L).map(i => (i, i + 1)).toDF("id1", "id2")
    val got = GraphOps.recursiveWalk(spark, path, 20)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(got == (0L until 10L).map(i => i -> i.toInt).toMap)
  }

  test("gr02 equals a driver-side brute-force triangle count") {
    val pairs = SimilarityOps.embeddingNearDupPairs(spark, dir)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).toSeq.sorted
    val count = scala.collection.mutable.Map.empty[Long, Long]
      .withDefaultValue(0L)
    for {
      (a, b) <- pairs
      c <- nodes if c > b && pairs((b, c)) && pairs((a, c))
    } Seq(a, b, c).foreach(n => count(n) += 1)
    val got = GraphOps.queries("gr02_triangles")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == count.toMap)
  }
}
