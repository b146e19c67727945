package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke + invariants for every declared query on sf0.001 (the full
  * hash-vs-DuckDB gate runs via graft.Verify + tools/check_oracle.py).
  */
class QueriesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  // Approximate candidate generators may legitimately return few/no rows,
  // and a graph-motif count (gr02: triangles in the near-dup graph) can be
  // legitimately zero at smoke scale — the oracle gate still compares the
  // (possibly empty) result exactly, so emptiness is not a silent skip.
  private val mayBeEmpty =
    Set("dd02_minhash_lsh", "dd03_simhash", "gr02_triangles", "gr03_bfs_hops",
      "rec01_recursive_cte")

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name runs on sf0.001") {
      val n = fn(spark, dir).count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned no rows")
    }
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("the registry holds exactly 170 distinct query names") {
    val declared = SparkEntry.suites.map(_.queries.size).sum
    assert(declared == 170)
    assert(SparkEntry.queries.size == 170)
  }

  private def stub(names: String*)(oracleKeys: String*): QuerySuite =
    new QuerySuite {
      val queries: Map[String, Q] =
        names.map(n => n -> ((_: org.apache.spark.sql.SparkSession,
          _: String) => ???)).toMap
      val oracle: Map[String, String] = oracleKeys.map(_ -> "SELECT 1").toMap
    }

  test("two suites declaring one query name fail the registry") {
    val e = intercept[IllegalArgumentException](
      QuerySuite.merge(Seq(stub("a", "x")(), stub("x", "b")())))
    assert(e.getMessage.contains("x"))
  }

  test("an oracle key naming no query of its own suite fails the registry") {
    intercept[IllegalArgumentException](
      QuerySuite.merge(Seq(stub("a")(), stub("b")("a"))))
    assert(QuerySuite.merge(Seq(stub("a")("a"), stub("b")())).oracle.keySet
      == Set("a"))
  }

  test("ss02 top-k: ranks in 1..5, cosine within [-1,1], descending per query") {
    val rows = SparkEntry.queries("ss02_topk_bruteforce")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (_, _, c, rn) => rn >= 1 && rn <= 5 && c >= -1 && c <= 1 })
    rows.groupBy(_._1).foreach { case (_, g) =>
      val sorted = g.sortBy(_._4).map(_._3)
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a >= b })
    }
  }

  test("st11 outer join: matched subset == st04's inner join, plus real null rows") {
    import org.apache.spark.sql.functions.col
    val outer = SparkEntry.queries("st11_stream_outer_join")(spark, dir)
    val inner = SparkEntry.queries("st04_stream_stream_join")(spark, dir)
    val matched = outer.filter(col("signup_id").isNotNull)
    assert(matched.exceptAll(inner).isEmpty && inner.exceptAll(matched).isEmpty)
    // the watermark closed at least one unmatched purchase into a null row
    assert(outer.filter(col("signup_id").isNull).count() > 0)
  }

  test("st12 full outer ⊇ st11 left outer; right-null rows close an hour later") {
    import org.apache.spark.sql.functions.col
    val full = SparkEntry.queries("st12_stream_full_outer_join")(spark, dir)
    val left = SparkEntry.queries("st11_stream_outer_join")(spark, dir)
    // every left-outer row (matched or purchase-null) appears in the full
    // outer result; the full result adds only signup-side null rows
    val fullLeftPart = full.filter(col("purchase_id").isNotNull)
    assert(fullLeftPart.exceptAll(left).isEmpty
      && left.exceptAll(fullLeftPart).isEmpty)
    assert(full.filter(col("purchase_id").isNull).count() > 0)
  }

  test("ss05 multi-table candidates dominate ss03's single table per rank") {
    // ss05's table 0 uses ss03's seed, so its candidate set is a superset;
    // at every (qid, rank) the re-ranked cosine can only be >= ss03's.
    def byRank(name: String) = SparkEntry.queries(name)(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getDouble(2)).toMap
    val multi = byRank("ss05_ann_rerank")
    val single = byRank("ss03_ann_lsh")
    assert(multi.nonEmpty)
    single.foreach { case (k, c) =>
      assert(multi.getOrElse(k, Double.MinValue) >= c - 1e-9,
        s"ss05 lost to ss03 at $k")
    }
  }

  Seq("ss03_ann_lsh", "ss04_ann_ivf", "ss05_ann_rerank").foreach { annName =>
    test(s"$annName results are bounded by brute-force search") {
      val ann = SparkEntry.queries(annName)(spark, dir).collect()
      assert(ann.nonEmpty)
      val bruteBest = SparkEntry.queries("ss02_topk_bruteforce")(spark, dir)
        .collect().groupBy(_.getLong(0)).map { case (q, g) =>
          q -> g.map(_.getDouble(2)).max
        }
      // ANN can't beat exhaustive search
      ann.foreach { r =>
        assert(r.getDouble(2) <= bruteBest(r.getLong(0)) + 1e-9)
      }
    }
  }

  test("dd01 exact dedup partitions the corpus") {
    val total = Tables(spark, dir, "documents").count()
    val agg = SparkEntry.queries("dd01_dedup_exact")(spark, dir)
      .agg(org.apache.spark.sql.functions.sum("n_copies")).collect()(0).getLong(0)
    assert(agg == total)
  }

  test("tx03 langid predicts a known language") {
    val langs = SparkEntry.queries("tx03_langid")(spark, dir)
      .select("pred_lang").distinct().collect().map(_.getString(0)).toSet
    assert(langs.subsetOf(Set("en", "es", "de")))
  }

  test("st01 streaming result equals q23 batch result") {
    val stream = SparkEntry.queries("st01_stream_hourly")(spark, dir).collect()
    val batch = SparkEntry.queries("q23_event_hourly")(spark, dir).collect()
    assert(stream.map(_.toString).toSet == batch.map(_.toString).toSet)
  }
}
