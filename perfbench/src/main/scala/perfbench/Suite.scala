package perfbench

import java.nio.file.Paths

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Output fingerprint of a query, taken during the timed `noop` write
  * itself: row count plus an order-independent hash (the sum of each
  * row's 32-bit-masked xxhash64). Columns are renamed positionally first,
  * so duplicate output names hash unambiguously.
  */
object Fingerprint {
  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case a: ArrayType => hasMap(a.elementType)
    case _ => false
  }

  /** Materialize `df` through the noop sink; returns "rows:hash". */
  def noopWrite(df: DataFrame): String = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.columns.toSeq.map(col)
    val h: Column =
      if (cols.isEmpty) lit(0L)
      else if (named.schema.fields.exists(f => hasMap(f.dataType)))
        xxhash64(to_json(struct(cols: _*)))
      else xxhash64(cols: _*)
    val obs = Observation()
    named.observe(obs, count(lit(1)).as("rows"),
        sum(h.bitwiseAND(lit(0xFFFFFFFFL))).as("h"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    s"${m("rows")}:${Option(m("h")).getOrElse(0L)}"
  }

  def rows(fp: String): String = fp.takeWhile(_ != ':')
}

/** The analyst-suite workload: queries that neither build nor read scratch
  * tables, one or more per covered family (per-query fixed costs dominate
  * them: schema inference, eager jobs, planning, streaming start-up), plus
  * two that build their own MinHashDedup scratch tables: `dd06` (text
  * MinHash LSH, then connected components) and `gr03` (embedding LSH, the
  * graph edges, then BFS). Neither reads the other's tables, so the seed
  * may permute the order freely. Every pass starts with an empty scratch
  * cache.
  */
final class Suite(ctx: Ctx) {
  import ctx._
  private val queries = graft.SparkEntry.queries
  private val conf = cfg.get("suite")
  private val trio = strings(cfg.get("trio"))
  private val members = strings(conf.get("queries"))
  private val fps: Map[String, String] =
    cfg.get("fingerprints").fields.asScala.map(e => e.getKey -> e.getValue.asText).toMap
  private val rowsOnly: Set[String] = strings(cfg.get("rows_only_fingerprints")).toSet

  /** Run one query: construction, then the fingerprinting noop write. A
    * mismatch reports the fingerprint it saw, which is how a new member's
    * fingerprint is recorded.
    */
  def runQuery(name: String): Cost = {
    var fp = ""
    val (_, c) = cost {
      spans("query", name) {
        try {
          val df = spans("construct", name)(queries(name)(spark, a.data))
          fp = spans("action", name)(Fingerprint.noopWrite(df))
        } catch { case NonFatal(e) => fp = "error " + e.toString.take(300) }
      }
    }
    val ok = !fp.startsWith("error") && fps.get(name).exists { want =>
      if (rowsOnly(name)) Fingerprint.rows(want) == Fingerprint.rows(fp) else want == fp
    }
    tally.check(name, ok, s"got $fp, want ${fps.getOrElse(name, "no recorded fingerprint")}")
    c
  }

  /** One pass: empty scratch cache, then every member once; returns the
    * cost of each query.
    */
  def pass(salt: Long): Seq[Cost] = {
    graft.operators.MinHashDedup.clearScratch()
    spans("pass", s"suite/$salt")(shuffled(members, salt).map(runQuery))
  }

  def trioSeconds(): Double = time(trio.foreach(runQuery))._2

  def run(sessionS: Double): String = {
    // warm-up: one untimed pass, so the timed pass measures compiled code
    // and cached codegen rather than which query happened to run first
    val warmS = time(pass(-1))._2
    // the control trio is a per-layer reading: timed runs leave it out
    val trioS = if (a.trace) trioSeconds() else 0.0
    if (!a.trace) {
      val ops = pass(0)
      Main.result(tally, Seq(
        ("setup_s", sessionS + warmS, "s"),
        ("peak_rss_mb", Main.peakRssMb(), "MB"),
        ("op_cpu_gmean_s", Main.gmean(ops.map(_.cpuS)), "s"),
        ("pass_cpu_s", ops.map(_.cpuS).sum, "s")),
        Seq("ops" -> ops.size.toString,
          "op_p50_wall_s" -> Main.median(ops.map(_.wallS)).toString,
          "op_p50_cpu_s" -> Main.median(ops.map(_.cpuS)).toString,
          "pass_wall_s" -> ops.map(_.wallS).sum.toString,
          "setup_parts_s" -> s"[$sessionS,$warmS]"))
    } else {
      // the same pass untraced, traced, untraced: the overhead compares
      // the traced pass with the mean of its neighbours, which cancels the
      // JIT's steady warming across passes
      val before = time(pass(0))._2
      val c = attach()
      val tracedS = time(pass(0))._2
      val scratchBytes = Main.du(Paths.get(scratchRoot))._1
      drain()
      c.detach(spark)
      val after = time(pass(0))._2
      val untraced = (before + after) / 2
      val root = spans.all.filter(_.kind == "pass").init.last.id
      val l = layer(c, root)
      Trace.write(a, l)
      Main.result(tally, Layers.all(Layers.suite(l, a.cpus, scratchBytes) ++
        Layers.common(trioS, tracedS / untraced - 1)),
        Seq("untraced_s" -> untraced.toString, "traced_s" -> tracedS.toString))
    }
  }
}
