package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Bounded bottom-k per key over a STRING sort key (ascending, e.g. "k
  * smallest md5(id) per stratum").
  *
  * This is the scale-safe core of stratified sampling: the window
  * formulation (`row_number() over (partition by stratum order by h)`)
  * shuffles EVERY row of a stratum to one reducer — with a handful of
  * language strata that is a single-task wall at 100 TB. As an
  * `Aggregator` it gets partial aggregation: each map task keeps at most
  * k entries per stratum (ObjectHashAggregate partial), so the shuffle
  * carries ≤ k rows per (stratum, map task) and no stratum is ever
  * co-located or fully sorted.
  *
  * Ordering: ascending by `sortKey` (nulls FIRST — Spark's ASC default,
  * instead of the NPE the unguarded compareTo threw), ascending `payload`
  * tiebreak — matching `ORDER BY h, id` exactly, so the emitted array
  * position IS the row_number the window would have produced. Key
  * comparison is CODE-POINT order, which equals the UTF-8 binary order
  * Spark's sort compares: `String.compareTo` is UTF-16 code-unit order,
  * which ranks supplementary-plane characters below U+E000..U+FFFF and
  * would fork the claimed window parity on non-ASCII keys (r10 review;
  * ASCII keys like the md5-hex callers' are unaffected).
  *
  * The buffer is a best-first sorted list truncated at k: O(k) insertion
  * beats heap constant factors at the small k this operator runs, and
  * merge is a bounded sorted-merge. `better` is a total, deterministic
  * strict order over every entry, null keys included: an order where both
  * `better(a, b)` and `better(b, a)` are false for unequal entries makes
  * `merge` non-commutative and the whole aggregation
  * partitioning-dependent — the same data returns different survivors on
  * different cluster layouts.
  */
object BottomKPerKey {

  type Entry = (String, Long) // (sortKey, payload)

  /** Code-point (== UTF-8 binary) comparison, nulls first. */
  private def cmpKeys(x: String, y: String): Int =
    if (x eq y) 0
    else if (x == null) -1
    else if (y == null) 1
    else {
      val nx = x.length
      val ny = y.length
      var i = 0
      while (i < nx && i < ny) {
        val cx = x.codePointAt(i)
        val cy = y.codePointAt(i)
        if (cx != cy) return Integer.compare(cx, cy)
        i += Character.charCount(cx) // equal code points advance equally
      }
      Integer.compare(nx, ny) // equal prefix: the shorter sorts first
    }

  case class BottomK(k: Int)
      extends Aggregator[Entry, List[Entry], Seq[Entry]] {
    // fail fast like MinHashArray's require: k <= 0 silently aggregated
    // every group to an empty array, and insert() recurses up to k frames
    // so an unbounded k risks executor StackOverflowError mid-job (r14
    // review). 4096 is far above any bottom-k this engine serves and far
    // below any default thread stack.
    require(k > 0 && k <= 4096, s"bounded-k needs 0 < k <= 4096, got $k")

    private def better(a: Entry, b: Entry): Boolean = {
      val c = cmpKeys(a._1, b._1)
      c < 0 || (c == 0 && a._2 < b._2)
    }

    override def zero: List[Entry] = Nil

    override def reduce(buf: List[Entry], in: Entry): List[Entry] =
      insert(buf, in, k)

    private def insert(buf: List[Entry], in: Entry, room: Int): List[Entry] =
      buf match {
        case _ if room == 0 => Nil
        case Nil => in :: Nil
        case h :: t if better(h, in) => h :: insert(t, in, room - 1)
        case _ => in :: buf.take(room - 1)
      }

    override def merge(a: List[Entry], b: List[Entry]): List[Entry] = {
      @annotation.tailrec
      def go(x: List[Entry], y: List[Entry], acc: List[Entry], room: Int)
          : List[Entry] =
        (x, y) match {
          case _ if room == 0 => acc.reverse
          case (Nil, Nil) => acc.reverse
          case (xs, Nil) => acc.reverse ::: xs.take(room)
          case (Nil, ys) => acc.reverse ::: ys.take(room)
          case (xh :: xt, yh :: _) if better(xh, yh) =>
            go(xt, y, xh :: acc, room - 1)
          case (_, yh :: yt) => go(x, yt, yh :: acc, room - 1)
        }
      go(a, b, Nil, k)
    }

    override def finish(buf: List[Entry]): Seq[Entry] = buf

    override def bufferEncoder: Encoder[List[Entry]] =
      ExpressionEncoder[List[Entry]]()
    override def outputEncoder: Encoder[Seq[Entry]] =
      ExpressionEncoder[Seq[Entry]]()
  }

  /** Untyped-`agg` form: `bottomK(20)(col("h"), col("doc_id")).as("sample")`
    * yields `array<struct<_1: string, _2: bigint>>` sorted smallest-first.
    */
  def bottomK(k: Int): (Column, Column) => Column = {
    val fn = udaf(BottomK(k))
    (sortKey, payload) => fn(sortKey, payload)
  }
}
