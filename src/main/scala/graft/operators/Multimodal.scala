package graft.operators

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{QuerySuite, Tables}

/** Multimodal-column plumbing (builder brief / SURVEY §2.3): treat media as
  * opaque `binary` columns with typed metadata, and run decode /
  * feature-extraction as distributed per-partition batch functions.
  *
  * The container has no image/audio codecs, so the DECODE step is a
  * clearly-marked deterministic fake ([[fakeDecode]]): it derives "frame"
  * features purely from the bytes. Everything around it — binary column
  * handling, schema of the feature struct, partition-preserving
  * `mapPartitions` execution, batch shape — is real and tested; swapping
  * [[fakeDecode]] for a JNI/codec call is a one-function change.
  *
  * Scale notes (100 TB): media blobs stay in executors (never collected);
  * decode is a narrow mapPartitions (no shuffle); metadata extraction
  * (mm01) is pure codegen'd expressions.
  */
object Multimodal extends QuerySuite {
  /** Feature schema produced by the decode step. */
  val featureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("byte_len", IntegerType),
    StructField("n_frames", IntegerType),
    StructField("frame_hashes", ArrayType(LongType)),
    StructField("feature", ArrayType(FloatType))))

  /** STUB decode: deterministic fake standing in for an image/audio codec.
    * Frames = 100-byte windows; per-frame hash + a 4-dim "feature" vector
    * derived from byte sums. Replace with a real codec at deployment.
    * `withFeature = false` skips the feature pass for hash-only consumers
    * (mm03/mm07), and `frameStride > 1` decodes only every stride-th frame
    * for sampling consumers (mm03) — the "decode only what the stage
    * needs" contract a real codec call would honor (a video decoder seeks
    * keyframes instead of decoding all and discarding); Catalyst cannot
    * prune inside mapPartitions, so the kernel has to. The emitted array
    * holds frames 0, stride, 2·stride, …; `n_frames` stays the TOTAL
    * frame count, so a consumer recovers true indices as position ×
    * stride.
    */
  def fakeDecode(docId: Long, bytes: Array[Byte],
      withFeature: Boolean = true, frameStride: Int = 1): Row = {
    val n = bytes.length
    val nFrames = n / 100 + 1
    val frameHashes = (0 until nFrames by frameStride).map { f =>
      val frame = bytes.slice(f * 100, math.min((f + 1) * 100, n))
      frame.foldLeft(1125899906842597L)((h, b) => h * 31 + b)
    }.toArray
    val feature = if (!withFeature) null else Array.tabulate(4) { i =>
      val slice = bytes.indices.filter(_ % 4 == i).map(bytes(_).toInt)
      if (slice.isEmpty) 0f else slice.sum.toFloat / slice.length
    }
    Row(docId, n, nFrames, frameHashes, feature)
  }

  /** STUB resize: block-mean downsample of the byte stream by `factor` —
    * the shape of an image/audio resample (same mapPartitions contract as
    * [[fakeDecode]]; swap for a real resampler at deployment).
    */
  def fakeResize(docId: Long, bytes: Array[Byte], factor: Int): Row = {
    val n = bytes.length
    val out = Array.tabulate((n + factor - 1) / factor) { b =>
      val sl = bytes.slice(b * factor, math.min((b + 1) * factor, n))
      sl.map(_.toInt).sum.toFloat / sl.length
    }
    Row(docId, n, out.length, out)
  }

  /** Schema produced by the resize step. */
  val resizeSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("byte_len", IntegerType),
    StructField("resized_len", IntegerType),
    StructField("resized", ArrayType(FloatType))))

  /** STUB audio framing: overlapping 50-sample windows at stride 25 (the
    * STFT framing shape) over the byte stream as fake PCM; per-window
    * sum-of-squares energy. Integer-only — the rms conversion happens in
    * the SQL layer with IEEE-exact ops (sqrt is correctly rounded, unlike
    * log/exp, so it is safe cross-engine). Trailing samples short of a
    * full window are dropped, as a real framer does.
    */
  def fakeAudioWindows(docId: Long, bytes: Array[Byte]): Iterator[Row] = {
    val win = 50
    val stride = 25
    val n = bytes.length
    // a zero-length recording has NO frames (the old nWin=1 emitted a
    // 0-sample window whose rms was NaN vs the oracle's NULL — r10 review)
    val nWin = if (n == 0) 0 else if (n <= win) 1 else (n - win) / stride + 1
    (0 until nWin).iterator.map { s =>
      val sl = bytes.slice(s * stride, math.min(s * stride + win, n))
      Row(docId, s, sl.length,
        sl.foldLeft(0L)((a, b) => a + b.toInt * b.toInt))
    }
  }

  /** Schema produced by the audio framing step. */
  val audioSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("win_idx", IntegerType),
    StructField("n_samples", IntegerType),
    StructField("energy", LongType)))

  /** The decode plumbing shared by every media query — documents scan →
    * binary cast → narrow mapPartitions under the given output schema
    * (previously copy-pasted five times; a change to the decode contract
    * had to be edited in five places — r10 review). Blobs never leave the
    * executors; `maxId` prunes BEFORE the decode so the kernel only ever
    * runs on surviving rows.
    */
  private def decoded(s: SparkSession, dir: String, schema: StructType,
      maxId: Option[Long] = None)(
      kernel: (Long, Array[Byte]) => Iterator[Row]): DataFrame = {
    val base = Tables(s, dir, "documents")
    // a NULL blob is not decodable media: drop it here rather than NPE in
    // the kernel (fakeDecode folds over bytes.length). The oracle mirror
    // (asciiSrcSql) applies the same text IS NOT NULL filter, so engine
    // and oracle agree that null-text rows are outside the decode domain
    // (r10 ADVICE — dormant on the frozen fixture, contract now explicit)
    val src = maxId.fold(base)(m => base.filter(col("doc_id") < m))
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text").cast("binary").as("bin"))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(schema)
    src.mapPartitions { it =>
      it.flatMap(r => kernel(r.getLong(0), r.getAs[Array[Byte]](1)))
    }(enc)
  }

  val queries: Map[String, Q] = ListMap(
    // Binary metadata via pure expressions (oracle-checked).
    "mm01_binary_meta" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("bin"))
        .select(col("doc_id"),
          length(col("bin")).as("byte_len"),
          (floor(length(col("bin")) / 100) + 1).cast("int").as("n_frames"),
          md5(col("bin")).as("content_md5"))
        .orderBy("doc_id")
    }),

    // Decode + feature-extract via mapPartitions. The codec stand-in is
    // deterministic byte arithmetic, so the oracle replicates it in SQL and
    // hash-gates the full mapPartitions → schema → batch plumbing.
    "mm02_decode_features" -> ((s, dir) => {
      decoded(s, dir, featureSchema) { (id, b) =>
        Iterator.single(fakeDecode(id, b))
      }
        .select(col("doc_id"), col("byte_len"), col("n_frames"),
          element_at(col("frame_hashes"), 1).as("first_frame_hash"),
          // empty blob → NULL, matching the oracle's list_sum([]) (the
          // kernel's 0f-for-empty is a per-slot placeholder, not a mean)
          when(col("byte_len") > 0,
            round(element_at(col("feature"), 1).cast("double"), 4)).as("f0"))
        .orderBy("doc_id")
    }),
    // Frame sampling: one row per (stub-)decoded frame — the shape of a
    // video/audio frame-extraction stage (explode after a narrow decode).
    // The every-2nd-frame sampling rides INTO the decode kernel as a
    // stride (the r15 deferred restructure): the old shape hashed every
    // frame and discarded half post-explode — with a real codec that is
    // half the decode work thrown away; frame_idx is recovered as
    // position × stride.
    "mm03_frame_sample" -> ((s, dir) => {
      decoded(s, dir, featureSchema, maxId = Some(50)) { (id, b) =>
        Iterator.single(fakeDecode(id, b, withFeature = false,
          frameStride = 2))
      }
        .select(col("doc_id"),
          posexplode(col("frame_hashes")).as(Seq("pos", "frame_hash")))
        .select(col("doc_id"), (col("pos") * 2).cast("int").as("frame_idx"),
          col("frame_hash"))
        .orderBy("doc_id", "frame_idx")
    }),

    // Resize/resample: block-mean downsample ×4 in the same narrow
    // mapPartitions contract as the decode step (no shuffle, blobs stay in
    // executors). Output pins the boundary cells — first block, last
    // (possibly short) block — so the oracle checks edge handling.
    "mm04_resize" -> ((s, dir) => {
      decoded(s, dir, resizeSchema, maxId = Some(200)) { (id, b) =>
        Iterator.single(fakeResize(id, b, 4))
      }
        // the when-guards keep ANSI element_at off the empty array an
        // empty blob produces (INVALID_ARRAY_INDEX would kill the job;
        // the oracle emits NULL boundary cells for it — r10 review)
        .select(col("doc_id"), col("byte_len"), col("resized_len"),
          when(col("resized_len") > 0,
            round(element_at(col("resized"), 1).cast("double"), 4))
            .as("r_first"),
          when(col("resized_len") > 0,
            round(element_at(col("resized"), -1).cast("double"), 4))
            .as("r_last"))
        .orderBy("doc_id")
    }),

    // Audio windowed energy: overlapping frames (stride < window — the
    // STFT shape mm03's back-to-back frames don't exercise), flat rows out
    // of the same narrow mapPartitions contract. The kernel is integer
    // arithmetic end to end; rms is one codegen'd sqrt at the SQL layer.
    "mm05_audio_windows" -> ((s, dir) => {
      decoded(s, dir, audioSchema, maxId = Some(100))(fakeAudioWindows)
        .select(col("doc_id"), col("win_idx"), col("n_samples"), col("energy"),
          round(sqrt(col("energy").cast("double") / col("n_samples")), 4)
            .as("rms"))
        .orderBy("doc_id", "win_idx")
    }),

    // Contrastive training-pair construction (the CLIP-style doc↔embedding
    // pairing stage): each document gets its positive vector plus 3
    // DETERMINISTIC hash-drawn negatives (Knuth multiplicative hash mod
    // corpus size — reproducible across runs/engines, unlike rand()).
    // Scale shape: negatives are generated as (doc_id, vec_id) IDS ONLY —
    // a 4-row explode per doc, no vector payload until the single hash
    // join that attaches labels; n_vecs is a broadcast scalar, never a
    // driver collect.
    "mm06_pair_negatives" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("label"))
      val nVecs = emb.agg(count(lit(1)).as("n_vecs"))
      val docs = Tables(s, dir, "documents").select(col("doc_id"))
      val pos = docs.select(col("doc_id"), col("doc_id").as("vec_id"),
        lit(1).as("is_positive"))
      val neg = docs.crossJoin(broadcast(nVecs))
        .select(col("doc_id"), explode(array(lit(1), lit(2), lit(3))).as("j"),
          col("n_vecs"))
        .select(col("doc_id"),
          // nullif: an empty embeddings table gives n_vecs = 0, where the
          // oracle's `% 0` yields NULL (negatives drop in the join); the
          // bare remainder is an ANSI DIVIDE_BY_ZERO abort (r10 review)
          ((col("doc_id") * lit(2654435761L) + col("j") * lit(40503L))
            % nullif(col("n_vecs"), lit(0L))).as("vec_id"),
          lit(0).as("is_positive"))
      pos.unionByName(neg)
        .join(emb, Seq("vec_id"))
        .select(col("doc_id"), col("vec_id"), col("is_positive"), col("label"))
        .orderBy(col("doc_id"), col("is_positive").desc, col("vec_id"))
    }),

    // Cross-media duplicate FRAME detection — the video-dedup primitive
    // (find identical frames shared across different assets, e.g. shared
    // intro/outro segments): decode each blob's frame-hash sequence
    // (narrow mapPartitions, blobs never leave executors), explode to
    // (doc, frame_idx, hash) IDS ONLY, then one hash-keyed aggregation;
    // emit hashes appearing in ≥ 2 distinct assets. The shuffle carries
    // (hash, doc_id, idx) triples — never frame bytes — so the cost
    // scales with frame COUNT, not media size; the same shape as dd09's
    // text-span dedup, one modality over.
    "mm07_frame_dup" -> ((s, dir) => {
      decoded(s, dir, featureSchema) { (id, b) =>
        Iterator.single(fakeDecode(id, b, withFeature = false))
      }
        .select(col("doc_id"),
          posexplode(col("frame_hashes")).as(Seq("frame_idx", "frame_hash")))
        .groupBy("frame_hash")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occurrences"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .filter(col("n_docs") >= 2L)
        .orderBy("frame_hash")
    }),
  )

  /** The fake-codec arithmetic ([[fakeDecode]]) re-expressed in DuckDB SQL.
    * Java's `h * 31 + b` rolling hash wraps mod 2⁶⁴, emulated in HUGEINT
    * with an explicit modulus and a signed reinterpretation at the end;
    * document text is ASCII, so `unicode(substr(...))` equals the UTF-8
    * byte the Spark kernel folds over. An empty trailing frame (byte_len
    * divisible by 100) reduces to the bare seed on both engines.
    */
  private val hugeMod = "18446744073709551616::HUGEINT" // 2^64

  /** The oracle's char≈byte assumption made LOUD: the ENGINE kernels fold
    * real bytes (production-correct for arbitrary binary), while this SQL
    * mirror folds `unicode(substr(...))` code points — equal only for
    * ASCII. One non-ASCII document would silently fork every frame hash,
    * so the mirror refuses it instead (tx18's raise_error pattern, on the
    * oracle side because the fixture assumption lives HERE, not in the
    * engine — r10 review).
    */
  private val asciiSrcSql: String =
    """src AS (SELECT doc_id,
      |   CASE WHEN octet_length(encode(text)) = length(text) THEN text
      |     ELSE error('mm oracle: non-ASCII document ' || doc_id ||
      |                ' — the byte-kernel SQL mirror is ASCII-only')
      |   END AS text
      |  FROM documents
      |  WHERE text IS NOT NULL)""".stripMargin
  private def frameHashSql(frame: String): String =
    s"""list_reduce(
       |   list_prepend(1125899906842597::HUGEINT,
       |     list_transform(range(1, length($frame) + 1),
       |       i -> CAST(unicode(substr($frame, i, 1)) AS HUGEINT))),
       |   (h, x) -> (h * 31 + x) % $hugeMod)""".stripMargin
  private def signedSql(x: String): String =
    s"""CASE WHEN $x >= 9223372036854775808::HUGEINT
       |  THEN CAST($x - $hugeMod AS BIGINT) ELSE CAST($x AS BIGINT) END"""
      .stripMargin

  val oracle: Map[String, String] = ListMap(
    "mm01_binary_meta" ->
      """SELECT doc_id,
        | CAST(octet_length(encode(text)) AS INT) AS byte_len,
        | CAST(FLOOR(octet_length(encode(text)) / 100) + 1 AS INT) AS n_frames,
        | md5(text) AS content_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    "mm02_decode_features" ->
      s"""WITH $asciiSrcSql,
         | b AS (
         |  SELECT doc_id, octet_length(encode(text)) AS byte_len,
         |         substr(text, 1, 100) AS frame0, text
         |  FROM src),
         | h AS (
         |  SELECT doc_id, byte_len,
         |    CAST(FLOOR(byte_len / 100) + 1 AS INT) AS n_frames,
         |    ${frameHashSql("frame0")} AS fh,
         |    list_transform(
         |      list_filter(range(1, length(text) + 1), i -> (i - 1) % 4 = 0),
         |      i -> unicode(substr(text, i, 1))) AS b4
         |  FROM b)
         |SELECT doc_id, CAST(byte_len AS INT) AS byte_len, n_frames,
         |  ${signedSql("fh")} AS first_frame_hash,
         |  ROUND(CAST(CAST(list_sum(b4) AS FLOAT) / len(b4) AS DOUBLE), 4) AS f0
         |FROM h ORDER BY doc_id""".stripMargin,

    "mm03_frame_sample" ->
      s"""WITH $asciiSrcSql,
         | b AS (
         |  SELECT doc_id, octet_length(encode(text)) AS n, text
         |  FROM src WHERE doc_id < 50),
         | fr AS (
         |  SELECT doc_id,
         |    unnest(range(0, CAST(FLOOR(n / 100) + 1 AS INT))) AS frame_idx,
         |    text FROM b),
         | fh AS (
         |  SELECT doc_id, frame_idx,
         |    ${frameHashSql("substr(text, frame_idx * 100 + 1, 100)")} AS fh
         |  FROM fr WHERE frame_idx % 2 = 0)
         |SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
         |  ${signedSql("fh")} AS frame_hash
         |FROM fh ORDER BY doc_id, frame_idx""".stripMargin,

    "mm04_resize" ->
      s"""WITH $asciiSrcSql,
        | b AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n, text
        |  FROM src WHERE doc_id < 200),
        | r AS (
        |  SELECT doc_id, n,
        |    CAST(FLOOR((n + 3) / 4) AS INT) AS rl,
        |    list_transform(range(1, least(4, n) + 1),
        |      i -> unicode(substr(text, i, 1))) AS fb,
        |    list_transform(
        |      range((CAST(FLOOR((n + 3) / 4) AS INT) - 1) * 4 + 1, n + 1),
        |      i -> unicode(substr(text, i, 1))) AS lb
        |  FROM b)
        |SELECT doc_id, CAST(n AS INT) AS byte_len, rl AS resized_len,
        | CASE WHEN rl = 0 THEN NULL ELSE
        |   ROUND(CAST(CAST(list_sum(fb) AS FLOAT) / len(fb) AS DOUBLE), 4)
        | END AS r_first,
        | CASE WHEN rl = 0 THEN NULL ELSE
        |   ROUND(CAST(CAST(list_sum(lb) AS FLOAT) / len(lb) AS DOUBLE), 4)
        | END AS r_last
        |FROM r ORDER BY doc_id""".stripMargin,

    // ASCII text: unicode(substr(..)) == the byte the Spark kernel squares.
    "mm05_audio_windows" ->
      s"""WITH $asciiSrcSql,
        | b AS (SELECT doc_id, octet_length(encode(text)) AS n, text
        |  FROM src WHERE doc_id < 100),
        | w AS (SELECT doc_id, n, text,
        |    unnest(range(0, CASE WHEN n = 0 THEN 0 WHEN n <= 50 THEN 1
        |      ELSE CAST((n - 50) // 25 AS INT) + 1 END)) AS win_idx
        |   FROM b),
        | f AS (SELECT doc_id, win_idx,
        |    substr(text, win_idx * 25 + 1, 50) AS fr FROM w),
        | e AS (SELECT doc_id, win_idx, length(fr) AS n_samples,
        |    list_sum(list_transform(range(1, length(fr) + 1),
        |      i -> CAST(unicode(substr(fr, i, 1)) AS BIGINT)
        |           * unicode(substr(fr, i, 1)))) AS energy
        |  FROM f)
        |SELECT doc_id, CAST(win_idx AS INT) AS win_idx,
        | CAST(n_samples AS INT) AS n_samples,
        | CAST(energy AS BIGINT) AS energy,
        | ROUND(sqrt(CAST(energy AS DOUBLE) / n_samples), 4) AS rms
        |FROM e ORDER BY doc_id, win_idx""".stripMargin,

    "mm06_pair_negatives" ->
      """WITH n AS (SELECT COUNT(*) AS n_vecs FROM embeddings),
        | pos AS (SELECT doc_id, doc_id AS vec_id, 1 AS is_positive
        |   FROM documents),
        | neg AS (SELECT doc_id,
        |    (doc_id * 2654435761 + j * 40503) % (SELECT n_vecs FROM n)
        |      AS vec_id,
        |    0 AS is_positive
        |  FROM documents, (VALUES (1), (2), (3)) t(j)),
        | pairs AS (SELECT * FROM pos UNION ALL SELECT * FROM neg)
        |SELECT p.doc_id, p.vec_id, p.is_positive, e.label
        |FROM pairs p JOIN embeddings e ON p.vec_id = e.vec_id
        |ORDER BY p.doc_id, p.is_positive DESC, p.vec_id""".stripMargin,

    // mm03's frame-hash CTEs over the FULL corpus (no sampling), grouped
    // by the signed hash.
    "mm07_frame_dup" ->
      s"""WITH $asciiSrcSql,
         | b AS (
         |  SELECT doc_id, octet_length(encode(text)) AS n, text
         |  FROM src),
         | fr AS (
         |  SELECT doc_id,
         |    unnest(range(0, CAST(FLOOR(n / 100) + 1 AS INT))) AS frame_idx,
         |    text FROM b),
         | fh AS (
         |  SELECT doc_id, frame_idx,
         |    ${frameHashSql("substr(text, frame_idx * 100 + 1, 100)")} AS fh
         |  FROM fr),
         | sg AS (SELECT doc_id, ${signedSql("fh")} AS frame_hash FROM fh)
         |SELECT frame_hash, COUNT(DISTINCT doc_id) AS n_docs,
         | COUNT(*) AS n_occurrences,
         | MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |FROM sg GROUP BY frame_hash
         |HAVING COUNT(DISTINCT doc_id) >= 2
         |ORDER BY frame_hash""".stripMargin,
  )
}
