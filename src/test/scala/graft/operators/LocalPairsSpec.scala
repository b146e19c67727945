package graft.operators

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The near-duplicate pair kernels on both paths: the driver-side bucket
  * join of [[LocalPairs]] (default cap) and the distributed join (cap
  * forced to 0), plus every input that must fall back to the latter.
  */
class LocalPairsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The fixture scale factors next to [[TestSpark.sf0001]]. */
  private val scales = Seq("sf0.001", "sf0.01", "sf0.1").map(sf =>
    new java.io.File(new java.io.File(TestSpark.sf0001).getParent, sf).getPath)

  /** The rows of `df` as sorted strings. */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def shape(df: DataFrame) = df.schema.map(f => (f.name, f.dataType))

  /** `run` on the local path and with the cap forced to 0: each must be
    * served by that path, with the same column names, types and rows,
    * which are returned.
    */
  private def bothPaths(run: => DataFrame): Seq[String] = {
    val local = run
    assert(LocalPairs.lastKernel === "local")
    val dist = LocalGraph.withCap(0)(run)
    assert(LocalPairs.lastKernel === "distributed")
    assert(shape(local) === shape(dist))
    val got = rows(local)
    assert(got === rows(dist))
    got
  }

  /** `run` must take the distributed path at the default cap and give
    * what the forced distributed path gives; those rows are returned.
    */
  private def fallsBack(run: => DataFrame): Seq[String] = {
    val got = run
    assert(LocalPairs.lastKernel === "distributed")
    val want = LocalGraph.withCap(0)(run)
    assert(shape(got) === shape(want))
    assert(rows(got) === rows(want))
    rows(got)
  }

  private val base =
    "the quick brown fox jumps over the lazy dog and keeps running far away"

  /** A fresh dir whose `documents` table holds `docs` as (doc_id, text). */
  private def corpus(docs: DataFrame): String = {
    val d = Files.createTempDirectory("pairs").toString
    docs.select($"_1".as("doc_id"), $"_2".as("text"))
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    d
  }

  /** DedupSpec's corpus: a verbatim copy, a one-word near-dup and an
    * unrelated document.
    */
  private lazy val dedupCorpus = corpus(Seq(
    (0L, base), (1L, base), (2L, base.replace("lazy", "sleepy")),
    (3L, "completely different content about spark query engines and shuffles here"))
    .toDF())

  /** A fresh dir whose `embeddings` table holds `vecs` (64 dims each). */
  private def embeddings(d: String, vecs: Seq[(Long, Array[Float])]): Unit =
    vecs.map { case (id, v) => (id, v, 0) }.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")

  private def unit(k: Int): Array[Float] =
    Array.tabulate(64)(i => if (i == k) 1f else 0f)

  private def text(d: String, threshold: Double = 0.8) =
    MinHashDedup.lshPairs(spark, d, threshold)

  test("lshPairs: both paths give the DedupSpec corpus's pairs, at 0.8 and 0.5") {
    assert(bothPaths(text(dedupCorpus)) === Seq("[0,1,1.0]"))
    val loose = bothPaths(text(dedupCorpus, 0.5))
    assert(loose.length === 3 && loose.head === "[0,1,1.0]")
  }

  test("lshPairs and embeddingNearDupPairs: both paths agree at three scales") {
    for (d <- scales) {
      assert(bothPaths(text(d)).nonEmpty, d)
      assert(bothPaths(SimilarityOps.embeddingNearDupPairs(spark, d)).nonEmpty, d)
    }
  }

  test("dd06, dd08, dd11 and dd07: both paths give the same rows on sf0.001") {
    val d = TestSpark.sf0001
    for (q <- Seq("dd06_dedup_clusters", "dd08_semantic_clusters",
        "dd11_cross_corpus_neardup", "dd07_embedding_lsh_neardup")) {
      Scratch.clear(_.endsWith("_cc"))
      val local = rows(graft.SparkEntry.queries(q)(spark, d))
      Scratch.clear(_.endsWith("_cc"))
      assert(rows(LocalGraph.withCap(0)(graft.SparkEntry.queries(q)(spark, d)))
        === local, q)
    }
  }

  test("fallback: a repeated doc_id keeps the join's duplicate rows") {
    // doc 0's two rows both join the (0, 1) candidate
    assert(fallsBack(text(corpus(Seq((0L, base), (0L, base), (1L, base))
      .toDF()))) === Seq("[0,1,1.0]", "[0,1,1.0]"))
  }

  test("fallback: a null doc_id") {
    assert(fallsBack(text(corpus(Seq[(java.lang.Long, String)](
      (null, base), (0L, base), (1L, base)).toDF()))) === Seq("[0,1,1.0]"))
  }

  test("fallback: a non-integral doc_id") {
    assert(fallsBack(text(corpus(Seq(("a", base), ("b", base)).toDF())))
      === Seq("[a,b,1.0]"))
  }

  test("fallback: more rows than the cap") {
    // one copy among unrelated documents: 16 candidates, 20 rows
    val d = corpus(((0L, base) +: (1L, base) +: (2L until 20L).map(i =>
      i -> (0 until 12).map(k => s"w${i}_$k").mkString(" "))).toDF())
    LocalGraph.withCap(20)(text(d))
    assert(LocalPairs.lastKernel === "local")
    assert(LocalGraph.withCap(19)(fallsBack(text(d))) === Seq("[0,1,1.0]"))
  }

  test("fallback: more candidates than the cap, counted before verification") {
    // five copies share a bucket in each of the 16 bands: 16 × C(5, 2)
    val d = corpus((0L until 5L).map(_ -> base).toDF())
    LocalGraph.withCap(160)(text(d))
    assert(LocalPairs.lastKernel === "local")
    assert(LocalGraph.withCap(159)(fallsBack(text(d))).length === 10)
  }

  test("fallback: a null embedding, which Spark's cosine leaves null") {
    val d = Files.createTempDirectory("pairs_emb").toString
    embeddings(d, Seq(0L -> unit(0), 1L -> unit(0), 2L -> null))
    assert(fallsBack(SimilarityOps.embeddingNearDupPairs(spark, d)) ===
      Seq("[0,1,1.0]"))
  }

  test("the local path's pair step is one collect job and writes no scratch") {
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def scratch(): Set[String] = {
      val s = Files.list(tmp)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("graft_dd02_") || n.startsWith("graft_dd07_"))
        .toSet
      finally s.close()
    }
    val d = corpus(Seq((0L, base), (1L, base)).toDF())
    embeddings(d, Seq(0L -> unit(0), 1L -> unit(0), 2L -> unit(1)))
    SimilarityOps.embCount(spark, d) // memoized; its count job is not the pair step's
    val before = scratch()
    val (textPairs, textJobs) = graft.ReadJobs.jobsDuring(text(d))
    assert(LocalPairs.lastKernel === "local")
    val (embPairs, embJobs) = graft.ReadJobs.jobsDuring(
      SimilarityOps.embeddingNearDupPairs(spark, d))
    assert(LocalPairs.lastKernel === "local")
    assert((textJobs, embJobs) === ((1, 1)))
    assert(rows(textPairs) === Seq("[0,1,1.0]"))
    assert(rows(embPairs) === Seq("[0,1,1.0]"))
    assert(scratch() -- before === Set.empty)
    // the distributed path is the one that writes them
    LocalGraph.withCap(0) {
      text(d); SimilarityOps.embeddingNearDupPairs(spark, d)
    }
    assert((scratch() -- before).map(_.take(11)) ===
      Set("graft_dd02_", "graft_dd07_"))
    Scratch.clear(t => t.startsWith("dd02_") || t.startsWith("dd07_"))
  }

  test("an in-place rewrite of the embeddings table rebuilds gr_pairs") {
    val d = Files.createTempDirectory("pairs_gr").toString
    def pairs(): Seq[Row] = {
      val got = GraphOps.sharedPairs(spark, d).collect().toSeq
      assert(LocalPairs.lastKernel === "local")
      got
    }
    embeddings(d, Seq(0L -> unit(0), 1L -> unit(0), 2L -> unit(1)))
    assert(pairs() === Seq(Row(0L, 1L)))
    embeddings(d, Seq(0L -> unit(0), 1L -> unit(1), 2L -> unit(0)))
    assert(pairs() === Seq(Row(0L, 2L)))
    Scratch.clear(_ == "gr_pairs")
  }
}
