package graft.operators

import java.util.Arrays

import scala.util.DynamicVariable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Driver-side graph kernels: union-find components, bounded BFS and
  * fixed-point PageRank. On a small graph an iterative Spark loop spends
  * its time submitting jobs (a join, an aggregate, a checkpoint and a
  * count per round), not moving data. So up to [[cap]] edges a caller
  * evaluates its edge plan once through [[collect]], runs the kernel here
  * and writes the result to scratch as before; above it [[collect]]
  * returns None and the caller runs its distributed loop. The bound comes
  * from the driver heap, never from the data. [[take]], [[cap]] and
  * [[frame]] also serve [[LocalPairs]], the near-duplicate pair kernel.
  */
private[operators] object LocalGraph {
  /** Peak driver heap per collected edge: the decoded row (~100 B), the
    * sorted endpoint copy (16 B), dense indices (8 B) and per-node arrays
    * (≤ 60 B, at most two nodes per edge), with headroom for the collect's
    * compressed buffers.
    */
  private val BytesPerEdge = 256L

  /** The ceiling whatever the heap: 10M items (~160 MB of edge endpoints). */
  private val Ceiling = 10000000L

  private val capOverride = new DynamicVariable[Option[Long]](None)

  /** Most items a local kernel may hold when each takes `bytesEach` of
    * driver heap.
    */
  def cap(bytesEach: Long): Long = capOverride.value.getOrElse(
    math.min(Ceiling, Runtime.getRuntime.maxMemory / bytesEach))

  /** Most edges a graph may have to run locally. */
  def cap: Long = cap(BytesPerEdge)

  /** Runs `body` with every local kernel's cap forced to `c` on this
    * thread, so specs can drive each path; `c = 0` sends every input to
    * the distributed path.
    */
  private[operators] def withCap[T](c: Long)(body: => T): T =
    capOverride.withValue(Some(c))(body)

  /** Id types a Long holds exactly; others take the distributed path. */
  def integral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** A collected graph. `ids` holds every non-null endpoint, sorted and
    * distinct, so index order is id order. Edge k joins `ids(src(k))` and
    * `ids(dst(k))`, in the orientation of the collected columns, with
    * duplicates and self-loops kept. A row with a null endpoint is no edge;
    * `sawNull` records one, and its non-null end is still in `ids`.
    */
  final class Graph(val ids: Array[Long], val src: Array[Int],
      val dst: Array[Int], val sawNull: Boolean)

  /** Evaluates `df` once, keeping at most `limit` + 1 rows: Some(rows)
    * when `df` has at most `limit` rows, None otherwise (or when the limit
    * is 0). The one driver-side collection under `graft.operators`, so
    * every local kernel reads a bounded number of rows.
    */
  def take(df: DataFrame, limit: Long): Option[Array[InternalRow]] = {
    if (limit <= 0) return None
    val qe = df.queryExecution
    // executeTake is what limit(n).collect() runs, minus the Row boxing
    val rows = SQLExecution.withNewExecutionId(qe, Some("collect"))(
      qe.executedPlan.executeTake((math.min(limit, Int.MaxValue - 1) + 1).toInt))
    if (rows.length > limit) None else Some(rows)
  }

  /** Evaluates `edges` once, keeping at most [[cap]] + 1 rows of its
    * columns `a` and `b`: Some(graph) when the edge count is within the
    * cap, None otherwise (or when the cap is 0). The columns must be
    * integral.
    */
  def collect(edges: DataFrame, a: String, b: String): Option[Graph] =
    take(edges.select(col(a).cast(LongType), col(b).cast(LongType)), cap)
      .map(graph)

  private def graph(rows: Array[InternalRow]): Graph = {
    val ends = new Array[Long](2 * rows.length)
    var m = 0
    var nEdges = 0
    var sawNull = false
    rows.foreach { r =>
      if (r.isNullAt(0) || r.isNullAt(1)) sawNull = true else nEdges += 1
      if (!r.isNullAt(0)) { ends(m) = r.getLong(0); m += 1 }
      if (!r.isNullAt(1)) { ends(m) = r.getLong(1); m += 1 }
    }
    Arrays.sort(ends, 0, m)
    var u = 0
    for (i <- 0 until m) if (u == 0 || ends(i) != ends(u - 1)) {
      ends(u) = ends(i); u += 1
    }
    val ids = Arrays.copyOf(ends, u)
    val src = new Array[Int](nEdges)
    val dst = new Array[Int](nEdges)
    var k = 0
    rows.foreach { r =>
      if (!r.isNullAt(0) && !r.isNullAt(1)) {
        src(k) = Arrays.binarySearch(ids, r.getLong(0))
        dst(k) = Arrays.binarySearch(ids, r.getLong(1))
        k += 1
      }
    }
    new Graph(ids, src, dst, sawNull)
  }

  /** Union-find over the undirected edges: for each node, the index of
    * its component's smallest node. Roots are always joined under the
    * smaller root, so a root is its set's minimum and, as `ids` is sorted,
    * its minimum id.
    */
  def components(g: Graph): Array[Int] = {
    val parent = Array.tabulate(g.ids.length)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    for (k <- g.src.indices) {
      val (ra, rb) = (find(g.src(k)), find(g.dst(k)))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    Array.tabulate(g.ids.length)(find)
  }

  /** Hop distance from node `source` over the undirected edges, up to
    * `maxHops`; -1 for nodes not reached.
    */
  def bfs(g: Graph, source: Int, maxHops: Int): Array[Int] = {
    val n = g.ids.length
    // CSR adjacency holding both directions of every edge
    val start = new Array[Int](n + 1)
    for (k <- g.src.indices) {
      start(g.src(k) + 1) += 1; start(g.dst(k) + 1) += 1
    }
    for (i <- 0 until n) start(i + 1) += start(i)
    val fill = Arrays.copyOf(start, n)
    val adj = new Array[Int](2 * g.src.length)
    for (k <- g.src.indices) {
      adj(fill(g.src(k))) = g.dst(k); fill(g.src(k)) += 1
      adj(fill(g.dst(k))) = g.src(k); fill(g.dst(k)) += 1
    }
    val hops = Array.fill(n)(-1)
    val queue = new Array[Int](n)
    hops(source) = 0
    queue(0) = source
    var (head, tail) = (0, 1)
    while (head < tail && hops(queue(head)) < maxHops) {
      val v = queue(head); head += 1
      for (j <- start(v) until start(v + 1)) if (hops(adj(j)) < 0) {
        hops(adj(j)) = hops(v) + 1; queue(tail) = adj(j); tail += 1
      }
    }
    hops
  }

  /** Fixed-point PageRank over the edge multiset taken in both directions,
    * every node starting at `scale`: each round a node sends
    * `rank div degree` along each of its directed edges, and its new rank
    * is `base + (received * 17) div 20`. Exact Long math that throws on
    * overflow, so the ranks match any summation order bit for bit.
    */
  def pageRank(g: Graph, iters: Int, scale: Long, base: Long): Array[Long] = {
    val n = g.ids.length
    val deg = new Array[Long](n)
    for (k <- g.src.indices) { deg(g.src(k)) += 1; deg(g.dst(k)) += 1 }
    var rank = Array.fill(n)(scale)
    for (_ <- 1 to iters) {
      val got = new Array[Long](n)
      for (k <- g.src.indices) {
        val (a, b) = (g.src(k), g.dst(k))
        got(b) = Math.addExact(got(b), rank(a) / deg(a))
        got(a) = Math.addExact(got(a), rank(b) / deg(b))
      }
      rank = got.map(c => Math.addExact(base, Math.multiplyExact(c, 17L) / 20))
    }
    rank
  }

  /** Rows per partition of a [[frame]] before it takes another: a small
    * frame is one partition, so collecting it again or writing it to
    * scratch is one task over one file.
    */
  private val RowsPerSlice = 100000L

  /** Equal-length Long or Double columns as a non-nullable DataFrame. The
    * rows are parallelized in chunks, one per partition, so no plan carries
    * them as a local relation.
    */
  def frame(s: SparkSession, cols: (String, Array[_])*): DataFrame = {
    val n = cols.head._2.length
    val slices = math.max(1, math.min(s.sparkContext.defaultParallelism.toLong,
      (n + RowsPerSlice - 1) / RowsPerSlice).toInt)
    val chunks = (0 until slices).map { k =>
      val (lo, hi) = ((n.toLong * k / slices).toInt,
        (n.toLong * (k + 1) / slices).toInt)
      cols.map(_._2 match {
        case c: Array[Long] => Arrays.copyOfRange(c, lo, hi): Array[_]
        case c: Array[Double] => Arrays.copyOfRange(c, lo, hi): Array[_]
      })
    }
    val rows = s.sparkContext.parallelize(chunks, slices).flatMap { cs =>
      Iterator.tabulate(cs.head.length)(i => Row.fromSeq(cs.map(_(i))))
    }
    s.createDataFrame(rows, StructType(cols.map { case (name, c) =>
      StructField(name, c match {
        case _: Array[Long] => LongType
        case _: Array[Double] => DoubleType
      }, nullable = false)
    }))
  }
}
