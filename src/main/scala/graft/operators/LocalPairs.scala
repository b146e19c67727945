package graft.operators

import java.util.Arrays

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, Literal, Round}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}

/** Driver-side near-duplicate pairs: the bucket self-join of an LSH
  * candidate search and the exact verification of every candidate, run in
  * driver memory. On a small corpus the distributed form (scratch writes,
  * a self-join on the bucket keys, two join-backs for verification) spends
  * its time planning, compiling and submitting stages, not moving data. So
  * a caller hands its rows, bucket keys already computed by the same
  * Spark expressions the distributed path uses, to [[apply]], which
  * collects them once through [[LocalGraph.take]] and returns the pairs as
  * a parallelized frame; None sends the caller to its distributed join.
  * The bounds come from the driver heap, never from the data: at most
  * `LocalGraph.cap(bytesPerRow)` rows, and at most
  * `LocalGraph.cap(BytesPerCandidate)` candidates, counted per bucket
  * before any is verified.
  */
private[operators] object LocalPairs {
  /** Driver heap per candidate: its packed index pair (8 B) in the array
    * that is sorted and deduplicated in place, plus the output columns of
    * those that pass (24 B), with headroom.
    */
  private val BytesPerCandidate = 64L

  /** Which path the LAST [[apply]] call chose ("local" | "distributed");
    * test observability only.
    */
  @volatile private[operators] var lastKernel: String = ""

  /** The pairs (id1 < id2, `score`) among `rows` that share a bucket key in
    * at least one band and that `scorer` keeps. Column 0 of `rows` is the
    * id and column 1 the band keys (an integral array, one key per band);
    * the scorer sees the collected rows sorted by id, ids cast to BIGINT
    * and keys to ARRAY<BIGINT>, all columns in place. It returns None to
    * decline the rows, or the score of a candidate pair of row indices,
    * NaN to drop it. The ids keep their type.
    *
    * None when the ids are not integral, when any id is null or repeated
    * (the distributed join's row multiplication is the semantics there),
    * when there are more rows or candidates than the caps, or when the
    * scorer declines.
    */
  def apply(rows: DataFrame, bytesPerRow: Long, score: String)
      (scorer: Array[InternalRow] => Option[(Int, Int) => Double])
      : Option[DataFrame] = {
    val idType = rows.schema.head.dataType
    // positional names: a caller's column may be an unnamed expression
    val pos = rows.columns.indices.map(k => s"c$k")
    val c = pos.map(col)
    val collected = rows.toDF(pos: _*).select(c.head.cast(LongType) +:
      c(1).cast(ArrayType(LongType)) +: c.drop(2): _*)
    val taken = Some(idType).filter(LocalGraph.integral)
      .flatMap(_ => LocalGraph.take(collected, LocalGraph.cap(bytesPerRow)))
      .filter(_.forall(r => !r.isNullAt(0) && !r.isNullAt(1)))
      .map(_.sortBy(_.getLong(0)))
      .filter(rs => rs.indices.drop(1)
        .forall(i => rs(i).getLong(0) != rs(i - 1).getLong(0)))
    val out = for {
      rs <- taken
      cands <- candidates(rs, LocalGraph.cap(BytesPerCandidate))
      verify <- scorer(rs)
    } yield {
      val (id1, id2, sc) = (Array.newBuilder[Long], Array.newBuilder[Long],
        Array.newBuilder[Double])
      cands.foreach { p =>
        val (i, j) = ((p >>> 32).toInt, p.toInt)
        val x = verify(i, j)
        if (!x.isNaN) {
          id1 += rs(i).getLong(0); id2 += rs(j).getLong(0); sc += x
        }
      }
      LocalGraph.frame(rows.sparkSession, "id1" -> id1.result(),
        "id2" -> id2.result(), score -> sc.result())
        .select(col("id1").cast(idType), col("id2").cast(idType), col(score))
    }
    lastKernel = if (out.isDefined) "local" else "distributed"
    out
  }

  /** The distinct index pairs (i < j) of rows sharing a key in any band,
    * packed as `i << 32 | j` and sorted; None when the buckets hold more
    * than `limit` pairs in all, counted before any pair is built.
    */
  private def candidates(rows: Array[InternalRow], limit: Long)
      : Option[Array[Long]] = {
    val bands = if (rows.isEmpty) 0 else rows(0).getArray(1).numElements()
    // per band, the row indices ordered by key: a bucket is a run of equal
    // keys
    val buckets = (0 until bands).map { b =>
      val key = rows.map(_.getArray(1).getLong(b))
      val order = Array.range(0, rows.length).sortBy(key(_))
      val starts = order.indices.filter(x => x == 0 ||
        key(order(x)) != key(order(x - 1))) :+ order.length
      (order, starts)
    }
    val total = buckets.map { case (_, starts) =>
      starts.sliding(2).collect { case Seq(lo, hi) =>
        (hi - lo).toLong * (hi - lo - 1) / 2 }.sum
    }.sum
    if (total > math.min(limit, Int.MaxValue - 8)) return None
    val out = new Array[Long](total.toInt)
    var k = 0
    for ((order, starts) <- buckets; Seq(lo, hi) <- starts.sliding(2);
         x <- lo until hi; y <- x + 1 until hi) {
      val (i, j) = (math.min(order(x), order(y)), math.max(order(x), order(y)))
      out(k) = i.toLong << 32 | j
      k += 1
    }
    Arrays.sort(out)
    var u = 0
    for (x <- out.indices) if (u == 0 || out(x) != out(u - 1)) {
      out(u) = out(x); u += 1
    }
    Some(Arrays.copyOf(out, u))
  }

  private val round6 =
    Round(BoundReference(0, DoubleType, nullable = false), Literal(6))

  /** Spark's `round(x, 6)` (HALF_UP), evaluated by Spark's own expression
    * so local scores equal the distributed path's bit for bit.
    */
  def round(x: Double): Double =
    round6.eval(new GenericInternalRow(Array[Any](x))).asInstanceOf[Double]
}
