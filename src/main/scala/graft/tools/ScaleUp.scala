package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic N× blow-up of a testdata scale-factor directory, for
  * empirical scale rehearsals (run the bench at 10× and check wall-times
  * grow ~linearly — the only way to convert "this plan survives 100 TB"
  * from an argument into a measurement).
  *
  * Shape: each fact table becomes `factor` stacked copies with primary and
  * foreign keys shifted by `copy * STRIDE` so referential integrity holds
  * WITHIN a copy and keys never collide ACROSS copies. Dimension tables
  * (region, nation) are kept as-is — their keys are low-cardinality FK
  * targets shared by every copy, exactly how a real 10× corpus shares a
  * country list.
  *
  * Several tables get a per-copy decorrelation transform so the blow-up
  * scales the WORKLOAD linearly instead of manufacturing a quadratic one
  * (entity names on customer/supplier/part get a `~k` suffix — see the
  * note at the save sites; the same reasoning as documents):
  *  - `documents`: every whitespace token in copy k>0 gets a `~k` suffix.
  *    Intra-copy text structure (shared spans, near-dup pairs, shingle
  *    sets) is preserved exactly — both sides of any shared span get the
  *    same suffixes — while cross-copy token sets are disjoint, so
  *    near-dup candidate pairs grow ×N, not ×N². `n_chars` is recomputed.
  *  - `embeddings`: copy k's vectors are rotated by k positions. Rotation
  *    preserves every intra-copy cosine exactly (both vectors rotate
  *    together) while cross-copy cosines collapse to noise, so LSH buckets
  *    and near-dup graphs scale ×N with N disjoint per-copy subgraphs.
  * Without these, 10 identical text/vector copies would make every LSH
  * bucket 10× denser and within-bucket pair generation 100× — a synthetic
  * quadratic no real 10× corpus exhibits.
  *
  * Timestamps are left unchanged: 10× events in the same wall-clock window
  * is the realistic shape (more traffic, not a longer history), and it
  * stresses per-window state exactly 10× harder.
  */
object ScaleUp {
  /** Key shift between copies; far above every sf0.1 key (max ~600 K). */
  private val STRIDE = 1000000000L

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_scale10")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    // strict: a typo'd mode arg must not silently write the CORRELATED
    // fixture the flag exists to avoid (same loud-failure reasoning as the
    // factor >= 1 require in write())
    val decorrelate = args.lift(3) match {
      case None => false
      case Some("decorrelate") => true
      case Some(other) => throw new IllegalArgumentException(
        s"unknown ScaleUp mode '$other' — the only mode is 'decorrelate'")
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    write(spark, src, out, factor, decorrelate)
    spark.stop()
  }

  /** `decorrelateEmbeddings`: compose each copy's rotation with a per-copy
    * deterministic SIGN FLIP (a diagonal ±1 orthogonal transform, seeded
    * by the copy index). Like the rotation it preserves every intra-copy
    * cosine exactly (both vectors flip the same coordinates:
    * ⟨Dx, Dy⟩ = ⟨x, y⟩), but the composed family has dim·2^dim distinct
    * orientations instead of the rotation's dim — so copies k ≡ k′ (mod
    * dim) are no longer cosine-correlated and the TRUE near-dup pair count
    * stays ~linear in the copy count at any factor. LADDER-ONLY: the
    * default (false) keeps the committed oracle fixtures byte-identical;
    * this flag exists to measure the engine's scaling in its true input
    * without the fixture's pair blow-up (the r14 dd08 100× finding:
    * rotation reuse grew edges 7× per 3.33× rows, and the ladder measured
    * the fixture, not the engine).
    */
  def write(spark: SparkSession, src: String, out: String, factor: Int,
      decorrelateEmbeddings: Boolean = false): Unit = {
    // up front, before any table lands: factor 0 used to crash on
    // empty.reduce AFTER region/nation were already written — a half-built
    // output dir that read like a corpus with dims but no facts (r13
    // review wave)
    require(factor >= 1, s"blow-up factor must be >= 1, got $factor")
    def read(t: String): DataFrame = graft.ParquetRead(spark, s"$src/$t.parquet")
    def save(t: String)(df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")

    // dims: shared across copies, unchanged
    save("region")(read("region"))
    save("nation")(read("nation"))

    /** Stack `factor` copies of `df`, shifting each column in `keys` by
      * copy*STRIDE. One read per copy keeps the output file count ~N× the
      * input's — the same small-file profile a real N× corpus has.
      */
    def stacked(t: String, keys: Seq[String])(
        perCopy: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until factor).map { k =>
        // events has shipped in two parquet vintages (timestamp[us] and
        // INT64 TIMESTAMP(NANOS)); every reader in the repo goes through
        // Tables.rawEvents' scoped nanosAsLong handling, and a bare read
        // here crashed the blow-up mid-run on the nanos form — LONG output
        // round-trips fine, normalizeEvents accepts it on the read side
        // (r13 review wave)
        val base = if (t == "events") graft.Tables.rawEvents(spark, src)
          else read(t)
        val shifted = keys.foldLeft(base)((d, c) =>
          d.withColumn(c, col(c) + lit(k * STRIDE)))
        perCopy(shifted, k)
      }.reduce(_ unionAll _)

    // Entity NAMES get the same per-copy decorrelation as document tokens:
    // a `~k` suffix. Key shifts alone left every c_name duplicated `factor`
    // times, and any query whose ANSWER is defined over name similarity
    // (er01's deletion-neighborhood linkage emits ALL pairs at edit
    // distance ≤ 1) then owes a quadratically growing result — 30 copies
    // of each name = C(30,2) pairs per entity. That measures the fixture,
    // not the engine: a real N× corpus has N× distinct entities. The
    // suffix preserves every intra-copy edit distance (identical suffixes
    // on both sides) while making cross-copy names non-adjacent — caught
    // by the r13 30× ladder, where er01's stage ran 10×+ past linear.
    // suffix digits are DOUBLED (`~1122` for copy 12): plain `~k` suffixes
    // are themselves within edit distance 1 of each other (`X~1` vs `X~2`
    // is one substitution; `X~1` vs `X~12` one insertion), so er01's
    // deletion-neighborhood join still paired every cross-copy duplicate
    // and the blow-up stayed quadratic in the copies — the r13 review
    // caught the first fix decorrelating only copy 0. Any two distinct
    // doubled-digit suffixes differ by >= 2 edits (same length ⇒ a digit
    // differs in both its positions; different length ⇒ length gap >= 2),
    // so cross-copy names fall outside er01's distance-1 contract.
    def named(t: String, key: String, name: String): DataFrame =
      stacked(t, Seq(key)) { (d, k) =>
        if (k == 0) d
        else {
          val suffix = "~" + k.toString.flatMap(c => s"$c$c")
          d.withColumn(name, concat(col(name), lit(suffix)))
        }
      }
    save("customer")(named("customer", "c_custkey", "c_name"))
    save("supplier")(named("supplier", "s_suppkey", "s_name"))
    save("part")(named("part", "p_partkey", "p_name"))
    save("orders")(stacked("orders", Seq("o_orderkey", "o_custkey"))())
    save("lineitem")(stacked("lineitem",
      Seq("l_orderkey", "l_partkey", "l_suppkey"))())
    save("events")(stacked("events", Seq("event_id", "user_id"))())

    save("documents")(stacked("documents", Seq("doc_id")) { (d, k) =>
      if (k == 0) d
      else d
        .withColumn("text", regexp_replace(col("text"), "(\\S+)", s"$$1~$k"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    })

    save("embeddings")(stacked("embeddings", Seq("vec_id")) { (d, k) =>
      if (k == 0) d
      else {
        // rotate left by k MOD dim: cosine-preserving within the copy,
        // scrambling across copies (element i pairs with element i+r of
        // the original). Unreduced k made the slice length negative once
        // the factor exceeded the embedding dimension — a runtime crash
        // with most tables already written (r13 review wave). Honest
        // limitation: rotation offers at most dim distinct orientations,
        // so copies k ≡ 0 (mod dim) ARE cosine-correlated with copy 0 —
        // fine for rehearsal factors (≤30) against ≥64-dim fixtures; a
        // factor beyond dim would need a per-copy orthogonal transform.
        val e0 = col("embedding")
        // optional per-copy sign flip BEFORE the rotation (see the write()
        // scaladoc): coordinate i flips iff xxhash64(k, i) is odd — a
        // deterministic diagonal orthogonal transform, distinct per copy
        val e = if (!decorrelateEmbeddings) e0
          else transform(e0, (x, i) =>
            when(pmod(xxhash64(lit(k), i), lit(2)) === 0, x).otherwise(-x))
        val r = pmod(lit(k), size(e))
        d.withColumn("embedding",
          concat(slice(e, r + lit(1), size(e) - r), slice(e, lit(1), r)))
      }
    })
  }
}
