package graft.functions

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Algebraic laws of the bounded bottom-k aggregator. tx08/tx12's
  * de-skewed sampling is only correct if partial aggregation commutes: any
  * partitioning of the input, reduced per partition and merged in any
  * order, must equal the global sorted-take-k. (This is exactly what Spark
  * assumes when it runs the Aggregator map-side.) Raw ScalaCheck driven
  * from scalatest, as in PropertySpec.
  */
class BottomKPerKeyPropSpec extends AnyFunSuite {

  private def check(name: String, p: Prop, n: Int = 100): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, s"$name: ${res.status}")
  }

  private val entryGen: Gen[(String, Long)] = for {
    h <- Gen.stringOfN(4, Gen.alphaNumChar)
    v <- Gen.chooseNum(0L, 50L)
  } yield (h, v)

  private def global(k: Int, xs: List[(String, Long)]): Seq[(String, Long)] =
    xs.sortBy(identity).take(k)

  test("reduce-then-merge over any split equals global sorted take-k") {
    check("split-invariance", Prop.forAll(
      Gen.listOf(entryGen), Gen.chooseNum(1, 8)) {
      (xs: List[(String, Long)], k: Int) =>
        val agg = BottomKPerKey.BottomK(k)
        // arbitrary 3-way split (deterministic by hash)
        val parts = xs.groupBy(e => math.abs(e.hashCode) % 3).values.toList
        val reduced = parts.map(_.foldLeft(agg.zero)(agg.reduce))
        val merged = reduced.foldLeft(agg.zero)(agg.merge)
        agg.finish(merged) == global(k, xs)
    })
  }

  test("k is validated up front: k <= 0 or k > 4096 fails fast") {
    intercept[IllegalArgumentException] { BottomKPerKey.bottomK(0) }
    intercept[IllegalArgumentException] { BottomKPerKey.bottomK(-5) }
    intercept[IllegalArgumentException] { BottomKPerKey.bottomK(5000) } // > recursion-safe bound
  }

  test("null sort keys order FIRST (Spark ASC default), never NPE") {
    val agg = BottomKPerKey.BottomK(2)
    val xs = List((null: String, 5L), ("a", 1L), (null: String, 2L))
    val out = agg.finish(xs.foldLeft(agg.zero)(agg.reduce))
    assert(out == List((null, 2L), (null, 5L)))
    // and merge handles a null-key buffer from either side
    val l = agg.reduce(agg.zero, (null: String, 9L))
    val r = agg.reduce(agg.zero, ("b", 1L))
    assert(agg.merge(l, r) == agg.merge(r, l))
  }

  test("non-ASCII keys order by code point (UTF-8 binary), not UTF-16 units") {
    // U+FFFD ('\uFFFD') must sort BEFORE U+1F600 (surrogate pair
    // '\uD83D\uDE00'): that is the window's ORDER BY (UTF-8 byte order);
    // String.compareTo ranks the surrogate lower and would flip the pick
    val agg = BottomKPerKey.BottomK(1)
    val xs = List(("😀", 1L), ("�", 2L))
    assert(agg.finish(xs.foldLeft(agg.zero)(agg.reduce)) ==
      List(("�", 2L)))
  }

  test("merge is order-insensitive and equals the global answer") {
    check("merge-commutativity", Prop.forAll(
      Gen.listOf(entryGen), Gen.listOf(entryGen), Gen.chooseNum(1, 6)) {
      (a: List[(String, Long)], b: List[(String, Long)], k: Int) =>
        val agg = BottomKPerKey.BottomK(k)
        val ra = a.foldLeft(agg.zero)(agg.reduce)
        val rb = b.foldLeft(agg.zero)(agg.reduce)
        agg.finish(agg.merge(ra, rb)) == agg.finish(agg.merge(rb, ra)) &&
          agg.finish(agg.merge(ra, rb)) == global(k, a ++ b)
    })
  }
}
