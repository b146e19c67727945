package graft.operators

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Near-dup detectors on a corpus with planted duplicates. */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val dir: String = {
    import spark.implicits._
    val d = Files.createTempDirectory("dedup").toString
    val base = "the quick brown fox jumps over the lazy dog and keeps running far away"
    Seq(
      (0L, base, "en", "src0", base.length.toLong),
      (1L, base, "en", "src0", base.length.toLong), // exact dup of 0
      (2L, base.replace("lazy", "sleepy"), "en", "src1", base.length.toLong), // near-dup
      (3L, "completely different content about spark query engines and shuffles here",
        "en", "src2", 70L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    d
  }

  test("exact dedup groups verbatim copies (dd01)") {
    val rows = TextOps.queries("dd01_dedup_exact")(spark, dir).collect()
    assert(rows.length == 3) // 4 docs, one duplicated
    val dupGroup = rows.find(_.getLong(0) == 0L).get
    assert(dupGroup.getLong(1) == 2L)
  }

  test("minhash LSH: dd02 emits only J ≥ 0.8 (near-miss-proof regime); " +
    "looser thresholds via the lshPairs parameter") {
    // dd02's emission threshold sits where 16-band recall is ~1-8e-8, so
    // the exact-all-pairs oracle can't flake: only the verbatim dup pair
    // (J = 1.0) clears it; the 1-word-changed near-dup (J ≈ 10/16) does not
    val pairs = MinHashDedup.queries("dd02_minhash_lsh")(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((0L, 1L)) == 1.0)
    assert(!pairs.contains((0L, 2L)))
    assert(!pairs.contains((0L, 3L)))
    // the kernel is parameterized: at threshold 0.5 the near-dup surfaces
    // (recall there is probabilistic — ~1% per-pair miss with 16 bands)
    val loose = MinHashDedup.lshPairs(spark, dir, threshold = 0.5).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(loose.contains((0L, 2L)) && loose.contains((1L, 2L)))
    assert(loose((0L, 2L)) > 0.5 && loose((0L, 2L)) < 1.0)
  }

  test("simhash: identical docs at hamming 0; only hamming ≤ 3 pairs emitted (dd03)") {
    val rows = MinHashDedup.queries("dd03_simhash")(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(rows((0L, 1L)) == 0)
    // recall contract: everything emitted is within the pigeonhole-guaranteed
    // bound (4×16-bit chunks ⇒ hamming ≤ 3 pairs always share a chunk)
    assert(rows.values.forall(_ <= 3))
    assert(!rows.contains((0L, 3L)))
  }

  test("dedup queries leave nothing cached (no session-lifetime persist leak)") {
    MinHashDedup.queries("dd02_minhash_lsh")(spark, dir).collect()
    MinHashDedup.queries("dd03_simhash")(spark, dir).collect()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("iterative operators release every round's checkpoint storage") {
    // gr01, gr03, dd06 and dd08 localCheckpoint each round; superseded
    // rounds must be unpersisted eagerly and the final result lands in a
    // scratch table, so NOTHING stays in executor storage after the action
    // returns. The cap is forced to 0 and the results' scratch cleared, so
    // the distributed rounds run rather than the local kernels or a cache
    // hit.
    val sf = graft.TestSpark.sf0001
    Scratch.clear(t => t.startsWith("gr0") || t.endsWith("_cc"))
    LocalGraph.withCap(0) {
      GraphOps.queries("gr01_pagerank")(spark, sf).collect()
      GraphOps.queries("gr03_bfs_hops")(spark, sf).collect()
      DedupClusters.queries("dd06_dedup_clusters")(spark, sf).collect()
      DedupClusters.queries("dd08_semantic_clusters")(spark, sf).collect()
    }
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      spark.sparkContext.getPersistentRDDs.toString)
  }

  test("SimHashArray kernel matches a direct Charikar computation") {
    import org.apache.spark.sql.functions._
    val got = MinHashDedup // force object init
    val df = spark.range(1).select(
      graft.functions.SimHashArray(split(lit("a b a"), " ")).as("sig"))
    val sig = df.collect()(0).getLong(0)
    def h64(w: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(w.getBytes("UTF-8"))
      (0 until 8).foldLeft(0L)((acc, k) => (acc << 8) | (d(k) & 0xFFL))
    }
    val counts = new Array[Int](64)
    for (w <- Seq("a", "b", "a"); b <- 0 until 64)
      if (((h64(w) >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
    val want = (0 until 64).foldLeft(0L)((s, b) =>
      if (counts(b) > 0) s | (1L << b) else s)
    assert(sig == want)
    assert(got != null)
  }

  test("SimHashArray rejects wrong input types at analysis; skips null elements") {
    import org.apache.spark.sql.functions._
    // analysis-time type error, not a runtime ClassCastException (on a
    // fresh session, whose listeners log no stack trace for it)
    val bad = intercept[org.apache.spark.sql.AnalysisException] {
      spark.newSession().range(1).select(
        graft.functions.SimHashArray(array(lit(1), lit(2)))).collect()
    }
    assert(bad.getMessage.toLowerCase.contains("type"))
    // a null element contributes no tokens: sig("a", null) == sig("a")
    val sigs = spark.range(1).select(
      graft.functions.SimHashArray(
        array(lit("a"), lit(null).cast("string"))).as("withNull"),
      graft.functions.SimHashArray(array(lit("a"))).as("plain"))
      .collect()(0)
    assert(sigs.getLong(0) === sigs.getLong(1))
  }

  test("scratch tables are cached per input, cleared eagerly, rebuilt on demand") {
    import scala.jdk.CollectionConverters._
    Scratch.clear() // drop leftovers from any earlier suite
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def scratch(): Set[String] = {
      val s = Files.list(tmp)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("graft_dd")).toSet
      finally s.close()
    }
    // dd02 builds its scratch tables on the distributed path only: the
    // cap is forced to 0 (LocalPairsSpec pins that the local path writes
    // none)
    def dd02() = LocalGraph.withCap(0)(
      MinHashDedup.queries("dd02_minhash_lsh")(spark, dir).collect())
    // measure DELTAS vs the pre-test tmpdir (other JVMs' garbage is not ours)
    val before = scratch()
    dd02()
    MinHashDedup.queries("dd03_simhash")(spark, dir).collect()
    val first = scratch() -- before
    assert(first.size === 3) // dd02 shingles + dd02 bands + dd03 sigs
    // re-running reuses the cached materializations — no accumulation
    dd02()
    assert((scratch() -- before) === first)
    // eager cleanup leaves nothing of ours behind (no waiting for JVM exit)
    Scratch.clear()
    assert((scratch() -- before).isEmpty)
    // and the next invocation re-materializes from scratch
    assert(dd02().nonEmpty)
    Scratch.clear()
  }

  test("scratch cache invalidates when the input is rewritten in place") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    Scratch.clear()
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def scratch(): Set[String] = {
      val s = Files.list(tmp)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("graft_dd")).toSet
      finally s.close()
    }
    val d = Files.createTempDirectory("dedup_inval").toString
    def write(docs: Seq[(Long, String)]): Unit =
      docs.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    // the distributed path, the one with scratch tables (cap forced to 0)
    def dd02() = LocalGraph.withCap(0)(
      MinHashDedup.queries("dd02_minhash_lsh")(spark, d).count())
    write(Seq((0L, "alpha beta gamma delta"), (1L, "alpha beta gamma delta")))
    val before = scratch()
    assert(dd02() === 1)
    val first = scratch() -- before
    // same path, new content: the fingerprint must force a re-materialize
    // (not serve the stale 2-doc signature table) and the answer must change
    write(Seq((0L, "alpha beta gamma delta"), (1L, "totally unrelated words here")))
    assert(dd02() === 0)
    assert((scratch() -- before).size > first.size) // new entries, not reuse
    Scratch.clear()
  }

  test("word jaccard: dup pair = 1.0, near pair high, unrelated low (dd04)") {
    val rows = TextOps.queries("dd04_word_jaccard")(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(rows((0L, 1L)) == 1.0)
    assert(rows((0L, 2L)) > 0.7)
    assert(rows((0L, 3L)) < 0.2)
  }
}
