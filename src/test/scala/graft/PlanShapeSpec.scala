package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape guards for queries whose 100 TB viability depends on the
  * physical plan, not just the result (SURVEY §1.3).
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("q38 column profile reads lineitem exactly once") {
    val df = SparkEntry.queries("q38_column_profile")(spark, TestSpark.sf0001)
    val scans = df.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.length == 1,
      s"expected a single table scan, got ${scans.length}")
  }

  test("rj01 range join plans as an equi-join — no nested-loop fallback") {
    // the hour-bucket probe turns the interval predicate into an equi-join
    // on (user_id, bucket); a BroadcastNestedLoopJoin here would mean the
    // O(|errors|×|purchases-per-user|) pair space came back
    val plan = SparkEntry.queries("rj01_range_join")(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("dd02 candidate generation is an equi-join on (band, band-hash)") {
    val plan = SparkEntry.queries("dd02_minhash_lsh")(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("tx07 cleaning pipeline: one scan, one shuffle (the dedup groupBy)") {
    val df = SparkEntry.queries("tx07_clean_corpus")(spark, TestSpark.sf0001)
    val plan = df.queryExecution.sparkPlan
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.length == 1, s"expected one scan:\n$plan")
    // quality + language + fingerprint are row-local; only the dedup
    // groupBy (plus the final presentation sort) may shuffle
    val exchanges = plan.toString.split("Exchange").length - 1
    assert(exchanges <= 2, s"expected <=2 exchanges:\n$plan")
  }

  test("tx08 sampling has no per-stratum window — bounded aggregator only") {
    // a Window partitioned by lang shuffles every row of a stratum to one
    // task (the round-2 scale-killer); the BottomKPerKey plan has NO window
    // at all, and the stratum aggregate partial-aggregates map-side
    val plan = SparkEntry.queries("tx08_stratified_sample")(
      spark, TestSpark.sf0001).queryExecution.sparkPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, s"expected no Window node:\n$plan")
    assert(plan.toString.contains("ObjectHashAggregate"),
      s"expected the bounded top-k ObjectHashAggregate:\n$plan")
  }

  test("tx09 packing windows are shard-bounded, never whole-stratum") {
    // full-corpus windows must partition by (lang, shard) — bounded groups;
    // a lang-only window is allowed only over the tiny per-shard totals
    // (an aggregate sits between it and the scan)
    val plan = SparkEntry.queries("tx09_sequence_pack")(
      spark, TestSpark.sf0001).queryExecution.sparkPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      val overRawRows = w.partitionSpec.size < 2
      if (overRawRows) {
        val aggBelow = w.child.collectFirst {
          case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
          case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
        }
        assert(aggBelow.nonEmpty,
          s"lang-only window over un-aggregated rows (stratum skew):\n$plan")
      }
    }
  }

  test("tx12 mixture sampling has no per-stratum window") {
    val plan = SparkEntry.queries("tx12_temperature_mix")(
      spark, TestSpark.sf0001).queryExecution.sparkPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, s"expected no Window node:\n$plan")
    assert(plan.toString.contains("ObjectHashAggregate"),
      s"expected the bounded bottom-k ObjectHashAggregate:\n$plan")
  }

  test("tx10 repetition stats are row-local: one scan, no aggregate shuffle") {
    val df = SparkEntry.queries("tx10_repetition")(spark, TestSpark.sf0001)
    val plan = df.queryExecution.sparkPlan
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.length == 1, s"expected one scan:\n$plan")
    val aggs = plan.collect {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
      case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
    }
    assert(aggs.isEmpty, s"per-row stats must not aggregate:\n$plan")
    // only the presentation sort may exchange
    val exchanges = plan.toString.split("Exchange").length - 1
    assert(exchanges <= 1, s"expected <=1 exchange:\n$plan")
  }

  test("dc01 joins corpus n-grams against a BROADCAST benchmark set") {
    // the benchmark n-gram set is tiny vs the corpus; a sort-merge join
    // here would shuffle every corpus n-gram at 100 TB
    val plan = SparkEntry.queries("dc01_decontaminate")(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("dd07 candidate generation is an equi-join on (table, signature)") {
    val plan = SparkEntry.queries("dd07_embedding_lsh_neardup")(
      spark, TestSpark.sf0001).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("q44 lateral top-k decorrelates to a window — no nested loop") {
    // Catalyst must rewrite the correlated ORDER BY + LIMIT subquery into a
    // per-key window (one shuffle on the join key); a nested-loop plan
    // would re-execute the subquery per outer row
    val df = SparkEntry.queries("q44_lateral")(spark, TestSpark.sf0001)
    // executedPlan is an AdaptiveSparkPlan leaf — assert on its rendering
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // WindowGroupLimit = the decorrelated per-key top-k, with a map-side
    // Partial pass so only <=2 rows per key reach the shuffle
    assert(plan.contains("WindowGroupLimit"),
      s"expected the decorrelated window group limit:\n${plan.take(2000)}")
  }

  test("ss05 re-rank joins candidates by id — no nested loop, broadcast probe") {
    val plan = SparkEntry.queries("ss05_ann_rerank")(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("tx13 normalization is a single scan with no shuffle but the sort") {
    val df = SparkEntry.queries("tx13_normalize")(spark, TestSpark.sf0001)
    val plan = df.queryExecution.sparkPlan
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.length == 1, s"expected one scan:\n$plan")
    val exchanges = plan.toString.split("Exchange").length - 1
    assert(exchanges <= 1, s"expected <=1 exchange:\n$plan")
  }

  test("q48 NOT IN plans as a broadcast anti join — no nested loop") {
    // the IS NOT NULL guard on the subquery lets Catalyst skip the
    // null-aware nested-loop fallback entirely
    val plan = SparkEntry.queries("q48_not_in")(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("tx15 tf-idf: df is an aggregate + join-back — no word-keyed window") {
    // a count window partitioned by word puts a stopword's whole (doc,
    // word) set on ONE task (unsplittable by AQE); the groupBy(word) +
    // join-back ships one row per (task, word) and skew-splits the probe.
    // Only the per-doc top-3 window (bounded by a doc's vocabulary) may
    // remain, and the n_docs scalar's scan must stay pruned to doc_id.
    val df = SparkEntry.queries("tx15_tfidf")(spark, TestSpark.sf0001)
    val plan = df.queryExecution.sparkPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, s"expected the per-doc top-3 window:\n$plan")
    windows.foreach { w =>
      val keys = w.partitionSpec.flatMap(_.references.map(_.name))
      assert(keys == Seq("doc_id"),
        s"window must partition by doc_id only, got $keys:\n$plan")
    }
    val scans = plan.collect { case s: FileSourceScanExec => s }
    scans.filterNot(_.schema.fieldNames.contains("text")).foreach { s =>
      // ≤ {doc_id}: a count-only leg may prune all the way to struct<>
      // (rows-without-columns), which is strictly better than doc_id-only
      assert(s.schema.fieldNames.forall(_ == "doc_id"),
        s"count scan must be pruned to at most doc_id:\n$s")
    }
  }

  test("ss06 centroids broadcast back to the corpus scan") {
    // the centroid table is labels x dim (tiny); a shuffled join here
    // would re-shuffle the whole embeddings table at 100 TB
    val plan = SparkEntry.queries("ss06_embedding_outliers")(
      spark, TestSpark.sf0001).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
  }

  test("ts04 OHLC bars aggregate in one shuffle — no per-key window") {
    val plan = SparkEntry.queries("ts04_ohlc_bars")(spark, TestSpark.sf0001)
      .queryExecution.sparkPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, s"first/last must ride the aggregate:\n$plan")
    val exchanges = plan.toString.split("Exchange").length - 1
    assert(exchanges <= 2, s"expected agg + presentation sort only:\n$plan")
  }

  test("dd09 duplicate test is a gram aggregate + join-back — no gram-key window") {
    // a hot gram (boilerplate header) must never own a whole window
    // partition; only the per-doc span-merge window (bounded by doc
    // length) may appear
    val df = SparkEntry.queries("dd09_substring_spans")(spark, TestSpark.sf0001)
    val plan = df.queryExecution.sparkPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    windows.foreach { w =>
      val keys = w.partitionSpec.flatMap(_.references.map(_.name))
      assert(keys == Seq("doc_id"),
        s"window must partition by doc_id only, got $keys:\n$plan")
    }
    val txt = df.queryExecution.executedPlan.toString
    assert(!txt.contains("BroadcastNestedLoopJoin"), txt.take(2000))
    assert(!txt.contains("CartesianProduct"), txt.take(2000))
  }

  test("dd06/dd08 cluster_size is an aggregate + join-back — no cluster-keyed window") {
    // a mega-cluster (total-dup corpus) must never land on one task
    for (q <- Seq("dd06_dedup_clusters", "dd08_semantic_clusters")) {
      val plan = SparkEntry.queries(q)(spark, TestSpark.sf0001)
        .queryExecution.sparkPlan
      val windows = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.isEmpty, s"$q: expected no Window node:\n$plan")
    }
    graft.operators.Scratch.clear()
  }

  test("dd04/dd05 bounded-window candidates are equi-joins, not nested loops") {
    // a range-predicate join (id1 < id2 <= id1+20) plans as a
    // BroadcastNestedLoopJoin — broadcasting a whole table side; the
    // offset-explode formulation emits candidate ids and equi-joins them
    for (q <- Seq("dd04_word_jaccard", "dd05_embedding_neardup",
        "dd12_containment")) {
      val plan = SparkEntry.queries(q)(spark, TestSpark.sf0001)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q:\n${plan.take(2000)}")
      assert(!plan.contains("CartesianProduct"), s"$q:\n${plan.take(2000)}")
    }
  }

  test("ss04 probe plan is nested-loop-free; assignment is ids-only scratch") {
    // the 16-centroid cross join lives in the one-time materialized
    // assignment pass; the QUERY plan reads the (vec_id, cid) scratch
    // table and equi-joins — at scale the index is built once, probed many
    val plan = SparkEntry.queries("ss04_ann_ivf")(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    graft.operators.Scratch.clear()
  }

  test("q38 result is unchanged by the single-pass rewrite") {
    val rows = SparkEntry.queries("q38_column_profile")(spark, TestSpark.sf0001)
      .collect().map(_.toString).toSeq
    assert(rows.length == 3)
    assert(rows.head.contains("l_linenumber"))
  }

  test("ts05 EWMA is one grouping shuffle, no window") {
    // the recurrence folds row-locally inside the array; a WindowExec or a
    // second data shuffle would mean the per-key history was re-shuffled
    val plan = SparkEntry.queries("ts05_ewma")(spark, TestSpark.sf0001)
      .queryExecution.sparkPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, s"expected no Window node:\n$plan")
    // one Exchange for the groupBy; the presentation orderBy may add one
    val exchanges = plan.toString.split("Exchange").length - 1
    assert(exchanges <= 2, s"expected <=2 exchanges:\n$plan")
  }

  test("q52/q53/q54 aggregate without windows — lambda folds and struct-min stay row-local") {
    for (q <- Seq("q52_higher_order", "q53_bit_aggs", "q54_median_mode")) {
      val plan = SparkEntry.queries(q)(spark, TestSpark.sf0001)
        .queryExecution.sparkPlan
      val windows = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.isEmpty, s"$q: expected no Window node:\n$plan")
    }
  }

  test("rec01 actually runs Spark's native recursion (UnionLoop), not a rewrite") {
    val plan = SparkEntry.queries("rec01_recursive_cte")(spark, TestSpark.sf0001)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("UnionLoop"), plan.take(2000))
    graft.operators.Scratch.clear()
  }

  test("md03 purge cascade: equi-join chain, no nested loop") {
    val plan = SparkEntry.queries("md03_purge_cascade")(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("tx18 inverted index: bounded-aggregator sampling, no per-term window") {
    val plan = SparkEntry.queries("tx18_inverted_index")(spark, TestSpark.sf0001)
      .queryExecution.sparkPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, s"expected no Window node:\n$plan")
    // the posting sample must ride the ObjectHashAggregate partial path
    // (≤ k rows per term per map task), never a full collect per term
    assert(plan.toString.contains("ObjectHashAggregate"), plan.toString.take(2000))
  }

  test("ss09 PQ: every join side is a broadcast table — nothing corpus-sized shuffles to a join") {
    val plan = SparkEntry.queries("ss09_pq_ann")(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString
    // the 16-row codebook and 48-row distance table broadcast; a
    // SortMergeJoin/ShuffledHashJoin would mean an embeddings-sized side
    // reached a shuffle boundary for the join
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
    assert(!plan.contains("ShuffledHashJoin"), plan.take(2000))
  }

  test("ss08 filtered ANN joins on the composed (sig, label) key — no nested loop") {
    val plan = SparkEntry.queries("ss08_filtered_ann")(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("md06 z-order key is row-local: one scan, only the final sort exchanges") {
    val df = SparkEntry.queries("md06_zorder_key")(spark, TestSpark.sf0001)
    val plan = df.queryExecution.sparkPlan
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.length == 1, s"expected one orders scan:\n$plan")
    val exchanges = plan.toString.split("Exchange").length - 1
    assert(exchanges <= 1, s"bit interleave must not shuffle:\n$plan")
  }

  test("tx20 PMI collocations aggregate without windows") {
    val plan = SparkEntry.queries("tx20_pmi_bigrams")(spark, TestSpark.sf0001)
      .queryExecution.sparkPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, s"expected no Window node:\n$plan")
  }

  test("ts07 attribution: equi-join chain, no nested loop, no per-purchase window") {
    val df = SparkEntry.queries("ts07_attribution")(spark, TestSpark.sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    val windows = df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, s"argmax must ride the aggregate:\n$plan")
  }

  test("er01 fuzzy match candidates come from the blocked equi-join — no all-pairs") {
    val plan = SparkEntry.queries("er01_fuzzy_match")(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("ts08 interval union windows partition by user only — no global sort pass") {
    val plan = SparkEntry.queries("ts08_interval_union")(spark, TestSpark.sf0001)
      .queryExecution.sparkPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      val keys = w.partitionSpec.flatMap(_.references.map(_.name))
      assert(keys == Seq("user_id"),
        s"island windows must partition by user_id, got $keys:\n$plan")
    }
  }

  test("mm06 pairing: label join is an equi-join; only the 1-row scalar broadcasts") {
    val plan = SparkEntry.queries("mm06_pair_negatives")(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // the n_vecs scalar (1 row) may ride a BroadcastNestedLoopJoin; the
    // label attachment must be a hash/sort-merge equi-join on vec_id
    val bnl = plan.split("BroadcastNestedLoopJoin").length - 1
    assert(bnl <= 1, s"expected at most the scalar BNL:\n${plan.take(2000)}")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      plan.take(2000))
  }

  test("ev01-ev04 windows partition by user_id only; funnel/score joins stay equi") {
    // behavioral analytics must never sort a cross-user axis on one task:
    // the only admissible windows are user-keyed (cardinality scales)
    for (q <- Seq("ev01_funnel", "ev02_cohort_retention",
        "ev03_transitions", "ev04_top_paths")) {
      val df = SparkEntry.queries(q)(spark, TestSpark.sf0001)
      val plan = df.queryExecution.sparkPlan
      plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }.foreach { w =>
        val keys = w.partitionSpec.flatMap(_.references.map(_.name))
        assert(keys == Seq("user_id"),
          s"$q window must partition by user_id, got $keys:\n$plan")
      }
      val txt = df.queryExecution.executedPlan.toString
      assert(!txt.contains("CartesianProduct"), s"$q:\n${txt.take(2000)}")
    }
  }

  test("ev04 pushes a map-side per-user top-3 below the shuffle (WindowGroupLimit)") {
    val plan = SparkEntry.queries("ev04_top_paths")(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
  }

  test("q61/q62 score the fact table without fact-sized windows") {
    // q61's boundary lookups run the shared DistributedCumsum prefix sum:
    // every window is partitioned by the value-range bucket (never an
    // empty partition spec — metric NDV scales with customer count) and
    // reads a groupBy(value).count() aggregate, never the raw orders
    // scan; the bucket assignment itself must join BROADCAST frames. q62
    // has no window at all: stats are an aggregation joined back on the
    // key.
    val q61 = SparkEntry.queries("q61_rfm_segments")(spark, TestSpark.sf0001)
    val p61 = q61.queryExecution.sparkPlan
    val w61 = p61.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(w61.nonEmpty) // the per-bucket cumsums are still windows
    w61.foreach { w =>
      assert(w.partitionSpec.nonEmpty, s"tertile cumsum must be bucketed:\n$w")
      val sub = w.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }
      assert(sub.nonEmpty,
        s"boundary window must read NDV-bounded counts:\n$w")
    }
    val t61 = q61.queryExecution.executedPlan.toString
    assert(t61.contains("BroadcastExchange"), t61.take(2000))
    val p62 = SparkEntry.queries("q62_zscore_outliers")(spark, TestSpark.sf0001)
      .queryExecution.sparkPlan
    assert(p62.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, s"q62 must not window:\n$p62")
  }

  test("ss11 fusion windows rank k-cut lists, not the corpus") {
    // RRF's rank windows have an empty partition spec, which is only
    // admissible because each one reads a TakeOrdered/limit k-cut —
    // assert that bound is really below every window
    val df = SparkEntry.queries("ss11_rrf_hybrid")(spark, TestSpark.sf0001)
    val plan = df.queryExecution.sparkPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      val bounded = w.collectFirst {
        case l: org.apache.spark.sql.execution.GlobalLimitExec => l
        case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
        case c: org.apache.spark.sql.execution.CollectLimitExec => c
      }
      assert(bounded.nonEmpty, s"window must read a k-cut list:\n$w")
    }
  }

  test("tx22 LM fluency: no windows, no cartesian; the explode recompute is deliberate") {
    // tx22 recomputes the narrow explode on the probe side instead of
    // shuffling the full bigram-instance table to share it (measured 33%
    // faster at 10×); the guard pins what must NOT appear — a
    // content-keyed window or a nested-loop join — and that only
    // aggregate-output exchanges exist (every Exchange's subtree
    // contains an aggregate or is the presentation sort)
    val df = SparkEntry.queries("tx22_lm_fluency")(spark, TestSpark.sf0001)
    assert(df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty)
    val txt = df.queryExecution.executedPlan.toString
    assert(!txt.contains("CartesianProduct"), txt.take(2000))
    assert(!txt.contains("BroadcastNestedLoopJoin"), txt.take(2000))
    val shuffles = df.queryExecution.sparkPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    shuffles.foreach { e =>
      val aggBelow = e.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }
      val isPresentationSort = e.outputPartitioning.toString.contains("range")
      assert(aggBelow.nonEmpty || isPresentationSort,
        s"raw-explode rows must not shuffle:\n$e")
    }
  }

  test("ts09 autocorrelation windows partition by user_id only") {
    val plan = SparkEntry.queries("ts09_autocorr")(spark, TestSpark.sf0001)
      .queryExecution.sparkPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      val keys = w.partitionSpec.flatMap(_.references.map(_.name))
      assert(keys == Seq("user_id"),
        s"lead window must partition by user_id, got $keys:\n$plan")
    }
  }

  test("no single-group exact percentile reads a data-scaling-NDV input") {
    // an exact `percentile` with an empty grouping walks its WHOLE input
    // on one reducer — admissible only when that input is provably
    // bounded: a k-cut (Limit/TakeOrdered — md07's 4096-row boundary
    // sample) or an NDV-bounded (value, freq) aggregate with a documented
    // contract (ev05's lag table). Grouped percentiles (q26/q51 group by
    // o_orderpriority) never form a single global group. Maintained by
    // grep: every `percentile(` site in src/main must be covered here.
    import org.apache.spark.sql.catalyst.expressions.aggregate.Percentile
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate, GlobalLimit, LocalLimit}
    val sites = Map(
      "md07_zorder_pruning" -> "limit",
      "ev05_conversion_lag" -> "freq-agg",
      "q26_percentiles" -> "grouped",
      "q51_approx_percentile" -> "grouped")
    sites.foreach { case (q, kind) =>
      val plan = SparkEntry.queries(q)(spark, TestSpark.sf0001)
        .queryExecution.optimizedPlan
      var singleGroupSites = 0
      plan.foreach {
        case a: Aggregate if a.groupingExpressions.isEmpty &&
            a.aggregateExpressions.exists(_.exists {
              case _: Percentile => true
              case _ => false
            }) =>
          singleGroupSites += 1
          val hasLimit = a.child.exists {
            case _: GlobalLimit | _: LocalLimit => true
            case _ => false
          }
          val hasAggBelow = a.child.exists {
            case _: Aggregate => true
            case _ => false
          }
          if (kind == "limit")
            assert(hasLimit,
              s"$q: boundary percentile must read a k-cut sample:\n$plan")
          else
            assert(hasLimit || hasAggBelow,
              s"$q: unbounded single-group exact percentile:\n$plan")
        case _ => ()
      }
      if (kind == "grouped")
        assert(singleGroupSites == 0,
          s"$q: expected only grouped percentiles:\n$plan")
    }
  }

  test("tx21 BM25: df/stats broadcast; the term filter sits under the tf aggregate") {
    val df = SparkEntry.queries("tx21_bm25")(spark, TestSpark.sf0001)
    val txt = df.queryExecution.executedPlan.toString
    assert(!txt.contains("CartesianProduct"), txt.take(2000))
    assert(txt.contains("BroadcastExchange"), txt.take(2000))
    // no window anywhere — scoring is aggregation + joins + TakeOrdered
    assert(df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty)
    assert(txt.contains("TakeOrderedAndProject"), txt.take(2000))
  }

  test("q59 carries no partition-less window (distributed prefix sum)") {
    // the equi-depth cumsum was the suite's last single-partition data
    // sort; the reshape runs it per value-range bucket with broadcast
    // offsets, so every WindowExec must carry a partition spec
    val df = SparkEntry.queries("q59_equidepth_hist")(spark, TestSpark.sf0001)
    val windows = df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty) // the per-bucket cumsum is still a window
    windows.foreach(w => assert(w.partitionSpec.nonEmpty, w.toString))
  }

  test("suite-wide: every partition-less WindowExec reads a k-cut") {
    // THE no-exemptions rule (r9 verdict item 1): a WindowExec with an
    // empty partition spec executes as one sorted task holding its whole
    // input, so across ALL declared queries the only admissible shape is
    // one whose input is provably k-bounded — a Limit/TakeOrdered below
    // the window (ss11's top-k lists). Everything data- or NDV-scaled
    // must be partitioned (per-key, or DistributedCumsum's value-range
    // buckets — q59/q61). No per-query allowlist: a new query that
    // sneaks in a global rank over an unbounded frame fails here by name.
    import org.apache.spark.sql.execution.{CollectLimitExec, GlobalLimitExec, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.window.WindowExec
    SparkEntry.queries.foreach { case (name, fn) =>
      val plan = fn(spark, TestSpark.sf0001).queryExecution.sparkPlan
      plan.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
        .foreach { w =>
          val kcut = w.collectFirst {
            case l: GlobalLimitExec => l
            case t: TakeOrderedAndProjectExec => t
            case c: CollectLimitExec => c
          }
          assert(kcut.nonEmpty,
            s"$name: partition-less window over an unbounded frame:\n$w")
        }
    }
  }

  test("dd09 explodes + shuffles the gram stream ONCE (exchange reuse)") {
    // the ≥2-docs aggregate and the join probe both consume the gram
    // stream's repartition-by-g exchange; the tautological min(pos) >= 0
    // filter exists solely to keep `pos` unpruned on the aggregate branch
    // so the two exchange subtrees stay canonically identical. If reuse
    // dies (a pruning change, a Spark upgrade), the corpus silently
    // explodes + shuffles twice again — this guard executes the plan so
    // AQE finalizes, then requires a ReusedExchange and a single explode.
    val df = SparkEntry.queries("dd09_substring_spans")(
      spark, TestSpark.sf0001)
    df.queryExecution.toRdd.foreachPartition(_ => ()) // finalize AQE
    // AdaptiveSparkPlan.toString prints Final AND Initial plan sections;
    // only the final (post-reuse) one is the shape under test.
    val txt = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(txt.contains("ReusedExchange"), txt.take(3000))
    val explodes = txt.sliding("Generate posexplode".length)
      .count(_ == "Generate posexplode")
    assert(explodes == 1, s"expected one explode, got $explodes:\n${txt.take(3000)}")
  }
}
