package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class DedupClustersSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  /** Components on the local path (default cap) and on star contraction
    * (cap forced to 0): each call must be served by that kernel, and both
    * must return the same schema and rows, which are returned.
    */
  private def bothPaths(nodes: DataFrame, edges: DataFrame): Seq[Row] = {
    val local = DedupClusters.connectedComponents(nodes, edges)
    assert(DedupClusters.lastKernel === "local")
    val dist = LocalGraph.withCap(0)(
      DedupClusters.connectedComponents(nodes, edges))
    assert(DedupClusters.lastKernel === "contraction")
    assert(local.schema === dist.schema)
    val got = rows(local)
    assert(got === rows(dist))
    got
  }

  private def labels(got: Seq[Row]): Map[Long, Long] =
    got.map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("connected components: chain, triangle, singleton") {
    // chain 1-2-3-4 (diameter 3), 
    // triangle 10-11-12, singleton 99
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 99L).toDF("id")
    val edges = Seq((2L, 3L), (1L, 2L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("a", "b")
    assert(labels(bothPaths(nodes, edges)) === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      99L -> 99L))
  }

  test("edge endpoints missing from the node set still get full labels") {
    // nodes covers only node 1; the 1-2-3 chain reaches 2 and 3 through
    // edges alone, and both kernels must label them (r10 review: a loop
    // that converged one round early silently dropped node 3)
    val nodes = Seq(1L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    assert(labels(bothPaths(nodes, edges)) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("convergence within maxIter is accepted; a genuinely unconverged exit throws") {
    // chain 0..15 (diameter 15) on star contraction (cap forced to 0):
    // maxIter bounds the contraction rounds, which need 4 improving rounds
    // + the stability-detection lap, so 5 passes and 4 throws
    val nodes = (0L to 15L).toDF("id")
    val edges = (0L to 14L).map(i => (i, i + 1)).toDF("a", "b")
    LocalGraph.withCap(0) {
      val ok = DedupClusters.connectedComponents(nodes, edges,
        maxIter = 5).as[(Long, Long)].collect().toMap
      assert(ok.values.toSet === Set(0L))
      // one round fewer reaches the star but cannot also certify stability
      intercept[IllegalStateException] {
        DedupClusters.connectedComponents(nodes, edges,
          maxIter = 4).collect()
      }
    }
  }

  test("a long-diameter component converges in O(log diameter) rounds (r13 30x finding)") {
    // 4096-node path: plain neighbor propagation needs 4095 rounds and
    // threw the non-convergence guard at the default maxIter = 20 — the
    // exact failure the 30x rehearsal hit when weak 0.4-cosine links
    // chained copies into one >20-diameter component. (Pointer jumping
    // could NOT close it: min-propagation labels never chain — every
    // assigned label is already a frontier minimum — so rounds follow
    // eccentricity regardless.) Large-star/small-star contraction must
    // converge within the default budget, and the local union-find must
    // return the same exact labels.
    val n = 4096
    val nodes = (0L until n.toLong).toDF("id")
    val edges = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("a", "b")
    val got = bothPaths(nodes, edges)
    assert(got.length === n)
    assert(got.forall(_.getLong(1) === 0L), "every node must reach the path's min id")
  }

  test("the default cap serves small graphs locally; a cap of 0 runs contraction") {
    // near-clique (diameter 2), the shape real near-dup graphs have, and a
    // 64-node path (diameter 63): both are far below the default cap, so
    // union-find serves them, and each gives the same labels on star
    // contraction, whose rounds follow log n, not the diameter
    val shallow = bothPaths((1L to 4L).toDF("id"),
      Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L)).toDF("a", "b"))
    assert(shallow.map(_.getLong(1)).toSet === Set(1L))
    val n = 64
    val deep = bothPaths((0L until n.toLong).toDF("id"),
      (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("a", "b"))
    assert(deep.length === n && deep.forall(_.getLong(1) === 0L))
  }

  test("welded clique+chain: both paths label every node with the component minimum") {
    // a 16-clique welded at node 15 to a chain tail mixes the two pure
    // topologies (clique and chain); with a long (40) and a short (2)
    // tail, both kernels must label everything with the component minimum
    val cliqueEdges = for {
      i <- 0L until 16L; j <- (i + 1) until 16L
    } yield (i, j)
    for (tail <- Seq(40, 2)) {
      val chain = (15L until (15L + tail)).map(i => (i, i + 1))
      val n = 16 + tail
      val got = bothPaths((0L until n.toLong).toDF("id"),
        (cliqueEdges ++ chain).toDF("a", "b"))
      assert(got.length === n && got.forall(_.getLong(1) === 0L))
    }
  }

  test("property: components equal driver-side union-find on random graphs") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val prop = Prop.forAll(
      Gen.choose(1, 20),
      Gen.listOfN(25, Gen.zip(Gen.choose(0L, 19L), Gen.choose(0L, 19L)))) {
      (nNodes, rawEdges) =>
        val ids = (0L until nNodes.toLong).toList
        val es = rawEdges.filter { case (a, b) =>
          a != b && a < nNodes && b < nNodes }
        // driver-side union-find reference
        val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
        def find(x: Long): Long =
          if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
        es.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val expected = ids.map(i => i -> {
          // min id of the component
          ids.filter(j => find(j) == find(i)).min
        }).toMap
        labels(bothPaths(
          ids.toDF("id"),
          if (es.isEmpty) Seq.empty[(Long, Long)].toDF("a", "b")
          else es.toDF("a", "b"))) == expected
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("both paths: an IntegerType id column keeps its type") {
    val got = bothPaths(Seq(1, 2, 3, 7).toDF("id"),
      Seq((3, 2), (2, 1)).toDF("a", "b"))
    assert(got.map(r => r.getInt(0) -> r.getInt(1)).toMap ===
      Map(1 -> 1, 2 -> 1, 3 -> 1, 7 -> 7))
    val local = DedupClusters.connectedComponents(Seq(1, 2).toDF("id"),
      Seq((1, 2)).toDF("a", "b"))
    assert(local.schema.map(_.dataType) ===
      Seq(org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.IntegerType))
  }

  test("both paths: an empty edge set labels every node with itself") {
    val got = bothPaths(Seq(5L, 3L, 9L).toDF("id"),
      Seq.empty[(Long, Long)].toDF("a", "b"))
    assert(labels(got) === Map(3L -> 3L, 5L -> 5L, 9L -> 9L))
  }

  test("both paths: an edge with a null endpoint is no edge; its null id " +
    "keeps a null label") {
    val edges = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (3L, null), (null, 4L), (5L, 5L)).toDF("a", "b")
    val got = bothPaths(Seq(1L, 2L, 6L).toDF("id"), edges)
    assert(got.map(r =>
      Option(r.get(0)).map(_.asInstanceOf[Long]) ->
        Option(r.get(1)).map(_.asInstanceOf[Long])).toMap ===
      Map(Some(1L) -> Some(1L), Some(2L) -> Some(1L), Some(3L) -> Some(3L),
        Some(4L) -> Some(4L), Some(5L) -> Some(5L), Some(6L) -> Some(6L),
        None -> None))
  }

  test("local components over a parquet-backed graph run in 3 jobs") {
    // one job collects the edges; the scratch write is the other two (the
    // aggregate that attaches the isolated nodes, and the write itself)
    val d = java.nio.file.Files.createTempDirectory("cc_jobs").toString
    try {
      Seq(1L, 2L, 3L, 4L, 10L, 11L, 99L).toDF("id")
        .coalesce(1).write.parquet(s"$d/nodes")
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a", "b")
        .coalesce(1).write.parquet(s"$d/edges")
      // read outside the count: schema inference is a job of its own
      val (nodes, edges) =
        (spark.read.parquet(s"$d/nodes"), spark.read.parquet(s"$d/edges"))
      val (got, jobs) = graft.ReadJobs.jobsDuring(
        DedupClusters.connectedComponents(nodes, edges))
      assert(DedupClusters.lastKernel === "local")
      assert(jobs === 3)
      assert(labels(rows(got)) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
        4L -> 1L, 10L -> 10L, 11L -> 10L, 99L -> 99L))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))
  }

  test("dd06 invariants: every doc labeled, labels are component minima") {
    val out = DedupClusters.queries("dd06_dedup_clusters")(
      spark, TestSpark.sf0001)
    val rows = out.select("doc_id", "cluster_id", "cluster_size")
      .as[(Long, Long, Long)].collect()
    val nDocs = graft.Tables(spark, TestSpark.sf0001, "documents").count()
    assert(rows.length.toLong === nDocs)
    // representative id is itself a member of the cluster, and minimal
    val byCluster = rows.groupBy(_._2)
    byCluster.foreach { case (cid, members) =>
      assert(members.map(_._1).min === cid)
      assert(members.forall(_._3 === members.length.toLong))
    }
    // the fixture corpus has planted near-dups → at least one real cluster
    assert(byCluster.exists(_._2.length > 1))
  }

  test("dd08 semantic clusters: labels minimal, keep marks representatives, " +
    "edges intra-cluster") {
    val out = DedupClusters.queries("dd08_semantic_clusters")(
      spark, TestSpark.sf0001)
    val rows = out.select("vec_id", "cluster_id", "cluster_size", "keep")
      .as[(Long, Long, Long, Int)].collect()
    val nVecs = graft.Tables(spark, TestSpark.sf0001, "embeddings").count()
    assert(rows.length.toLong === nVecs)
    val byCluster = rows.groupBy(_._2)
    byCluster.foreach { case (cid, members) =>
      assert(members.map(_._1).min === cid)
      assert(members.forall(_._3 === members.length.toLong))
      assert(members.count(_._4 == 1) === 1) // exactly one representative
      assert(members.find(_._4 == 1).get._1 === cid)
    }
    // every near-dup pair's endpoints landed in the same cluster
    val label = rows.map(r => r._1 -> r._2).toMap
    val pairs = SimilarityOps.embeddingNearDupPairs(spark, TestSpark.sf0001)
      .select("id1", "id2").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) => assert(label(a) === label(b)) }
  }

  test("tx16 split is leakage-free: every cluster lives in exactly one split") {
    val rows = DedupClusters.queries("tx16_leakage_split")(
      spark, TestSpark.sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
    assert(rows.length > 0)
    rows.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.map(_._3).distinct.length === 1,
        s"cluster $cid split across ${members.map(_._3).distinct.toSeq}")
    }
    // every near-dup pair's endpoints share a split (the contamination bug
    // this operator prevents)
    val split = rows.map(r => r._1 -> r._3).toMap
    val pairs = MinHashDedup.lshPairs(spark, TestSpark.sf0001)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1)))
    pairs.foreach { case (a, b) => assert(split(a) === split(b)) }
    Scratch.clear()
  }

  test("dd13 keeps exactly the max-logit member of every cluster (ties to min id)") {
    val rows = DedupClusters.queries("dd13_keep_best")(spark, TestSpark.sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (cid, members) =>
      val kept = members.filter(_._4 == 1)
      assert(kept.length === 1, s"cluster $cid kept ${kept.length}")
      // the keeper is the best (logit desc, id asc) member
      val best = members.minBy(m => (-m._3, m._1))
      assert(kept.head._1 === best._1,
        s"cluster $cid kept ${kept.head} over $best")
    }
    Scratch.clear()
  }

  test("a repeat call on parquet inputs is a peek hit; rewriting an input " +
    "recomputes") {
    val d = java.nio.file.Files.createTempDirectory("cc_key").toString
    def write(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$d/$name")
    def read(name: String) = spark.read.parquet(s"$d/$name")
    def labels(df: DataFrame): Map[Long, Long] =
      df.as[(Long, Long)].collect().toMap
    write(Seq(1L, 2L, 3L, 4L, 10L, 11L).toDF("id"), "nodes")
    write(Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b"), "edges")
    val scratch = ("cc_key", d)
    try {
      val (nodes, edges) = (read("nodes"), read("edges"))
      val first = labels(
        DedupClusters.connectedComponents(nodes, edges, scratch = scratch))
      assert(first === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
        10L -> 10L, 11L -> 10L))
      // same inputs: the peek serves the build's table, launching no job
      val (again, jobs) = graft.ReadJobs.jobsDuring(
        DedupClusters.connectedComponents(nodes, edges, scratch = scratch))
      assert(jobs === 0)
      assert(labels(again) === first)
      // same path, new content: the key must change and the rounds rerun
      write(Seq((3L, 4L), (10L, 11L), (1L, 11L)).toDF("a", "b"), "edges")
      val rewritten = labels(DedupClusters.connectedComponents(
        read("nodes"), read("edges"), scratch = scratch))
      assert(rewritten === Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 3L,
        10L -> 1L, 11L -> 1L))
    } finally {
      Scratch.clear(_ == scratch._1)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))
    }
  }
}
