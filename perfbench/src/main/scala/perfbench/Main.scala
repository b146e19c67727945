package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in one JVM (see `run.py`, which builds
  * the program, makes the input tables and launches this main).
  *
  * The client is a single thread in a closed loop: each operation starts
  * when the previous one has returned. Timed runs (`--trace 0`) register
  * no listener; the traced run (`--trace 1`) repeats the timed work
  * untraced, traced and untraced again, and reports per-layer totals of
  * the traced repetition plus its wall-time overhead.
  */
object Main {
  final case class Args(workload: String, seed: Long, trace: Boolean,
      data: String, work: Path, config: String, cpus: Int)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("trace") == "1", m("data"),
      Paths.get(m("work")), m("config"), m("cpus").toInt)
  }

  final class Tally {
    var attempted = 0L
    var failed = 0L
    val errors = ArrayBuffer[String]()
    def check(what: String, ok: Boolean, detail: => String = ""): Unit = {
      attempted += 1
      if (!ok) { failed += 1; if (errors.size < 20) errors += s"$what: $detail" }
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cfg = new ObjectMapper().readTree(Paths.get(a.config).toFile)
    val scratch = a.work.resolve("scratch")
    Files.createDirectories(scratch)
    val t0 = System.nanoTime()
    val builder = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.graft.scratch.dir", scratch.toString)
      .config("spark.graft.checkpoint.dir", a.work.resolve("checkpoints").toString)
    if (a.trace) builder.config("spark.sql.streaming.streamingQueryListeners",
      classOf[StreamRecorder].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, a, cfg, scratch.toString)
    val out = a.workload match {
      case "rfb_month" => new RfbMonth(ctx).run(sessionS)
      case "suite" => new Suite(ctx).run(sessionS)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    graft.operators.MinHashDedup.clearScratch()
    spark.stop()
    println("PERFBENCH_RESULT " + out)
    System.out.flush()
  }

  /** Peak resident set of this JVM, MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)

  /** CPU seconds the program has used so far: user plus system time of
    * every thread of this JVM except the JIT's (from /proc in 10 ms clock
    * ticks). The kernel leaves out time the hypervisor gave to other
    * guests, and waiting for a core does not add to it, so it follows the
    * work done far more closely than wall time on a shared host. The JIT's
    * threads are left out because how much they compile within one run
    * depends on the JVM's warm-up, not on the program.
    */
  def cpuS(): Double = ticks(Paths.get("/proc/self/stat")) - jitS()

  /** user + system seconds in a /proc stat file. */
  private def ticks(stat: Path): Double = {
    val s = new String(Files.readAllBytes(stat))
    val f = s.substring(s.lastIndexOf(')') + 2).split(' ')
    (f(11).toLong + f(12).toLong) / 100.0
  }

  /** The JIT's threads: the compilers and the code-cache sweeper. run.py
    * starts the JVM with a fixed number of compiler threads, so all of
    * them live as long as the JVM.
    */
  private lazy val jitThreads: Seq[Path] = {
    val ds = Files.list(Paths.get("/proc/self/task"))
    try ds.iterator.asScala.map(_.resolve("stat")).filter { p =>
      val s = new String(Files.readAllBytes(p))
      s.contains("CompilerThre") || s.contains("Sweeper thread")
    }.toSeq
    finally ds.close()
  }

  /** CPU seconds the JIT's threads have used so far. */
  def jitS(): Double = jitThreads.map(ticks).sum

  /** Bytes this process has read through read(2)-family calls. */
  def rchar(): Long =
    Files.readAllLines(Paths.get("/proc/self/io")).asScala
      .find(_.startsWith("rchar:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  /** (bytes, files) of the regular files under `p` that pass `keep`. */
  def du(p: Path, keep: Path => Boolean = _ => true): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(f => Files.isRegularFile(f) && keep(f))
        .foldLeft((0L, 0L)) { case ((b, n), f) => (b + Files.size(f), n + 1) }
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally s.close()
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Geometric mean of CPU times, each taken as at least one clock tick. */
  def gmean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 0.01))).sum / xs.size)

  /** JSON string literal. */
  def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** The run's result object, as the last stdout line carries it. */
  def result(t: Tally, metrics: Seq[(String, Double, String)],
      info: Seq[(String, String)]): String = {
    val ms = metrics.map { case (k, v, u) =>
      s"${jstr(k)}:{${jstr("value")}:${if (v.isNaN || v.isInfinite) "0" else v.toString},${jstr("unit")}:${jstr(u)}}"
    }.mkString("{", ",", "}")
    val extra = (info ++ Seq("errors" -> t.errors.map(jstr).mkString("[", ",", "]")))
      .map { case (k, v) => s"${jstr(k)}:$v" }.mkString(",")
    s"""{"correct":${t.failed == 0},"attempted":${t.attempted},"failed":${t.failed},"metrics":$ms,"info":{$extra}}"""
  }
}

/** Wall and CPU seconds of one operation or pass. */
final case class Cost(wallS: Double, cpuS: Double)

/** State shared by the workloads of one run. */
final class Ctx(val spark: SparkSession, val a: Main.Args, val cfg: JsonNode,
    val scratchRoot: String) {
  val spans = new Spans(spark)
  val tally = new Main.Tally

  def strings(n: JsonNode): Seq[String] = n.elements.asScala.map(_.asText).toSeq

  /** Attach the listeners (traced repetition only). */
  def attach(): Collector = Collector.attach(spark, spans, scratchRoot)

  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Wall and CPU seconds of `body` (see `Main.cpuS`), started from a
    * collected heap: otherwise an operation pays for garbage the ones
    * before it left, and with the order permuted by the seed one query's
    * cost moved by up to a factor of two between seeds.
    */
  def cost[A](body: => A): (A, Cost) = {
    System.gc()
    val c0 = Main.cpuS()
    val (r, s) = time(body)
    (r, Cost(s, Main.cpuS() - c0))
  }

  /** Seeded permutation. */
  def shuffled[A](xs: Seq[A], salt: Long): Seq[A] =
    new scala.util.Random(a.seed * 1000003L + salt).shuffle(xs)

  /** Per-layer totals of the traced repetition whose root span is `root`. */
  def layer(c: Collector, root: Int): LayerTotals = new LayerTotals(c, spans, root)
}

/** Per-layer reading of one traced repetition. */
final class LayerTotals(c: Collector, spans: Spans, root: Int) {
  import Spans.Span
  private val all = spans.all.filter(s => spans.within(s.id, root)).toSeq
  def ofKind(k: String): Seq[Span] = all.filter(_.kind == k)
  def work(ss: Seq[Span]): Work = Work.of(c, spans, ss.map(_.id))

  /** Planning seconds of the query executions started inside `ss`. */
  def planS(ss: Seq[Span]): Double = {
    val ids = ss.map(_.id)
    c.qes.asScala.filter(q => ids.exists(spans.within(spans.at(q.startMs), _)))
      .map(_.planMs).sum / 1e3
  }

  def scratchBuildS: Double =
    c.qes.asScala.filter(q => q.scratchWrite && spans.within(spans.at(q.startMs), root))
      .map(_.durationNs).sum / 1e9

  def schemaJobs: (Long, Double) = {
    val js = c.jobs.values.asScala.filter(j =>
      j.callSite.contains("Tables.scala") && spans.within(c.jobSpan(j), root))
    (js.size.toLong, js.map(j => j.endMs - j.startMs).sum / 1e3)
  }

  def streaming(ss: Seq[Span]): (Long, Double) = {
    val bs = c.batches.asScala.filter(b => ss.exists(s => s.startMs <= b._1 && b._1 <= s.endMs + 1))
    (bs.size.toLong, bs.map(_._2).sum / 1e3)
  }

  private def jobsUnder(id: Int): Seq[Collector.Job] =
    c.jobs.values.asScala.filter(j => c.jobSpan(j) == id).toSeq.sortBy(_.id)

  /** Self time: the span's duration minus what its child spans and jobs
    * cover (millisecond intervals).
    */
  def selfS(s: Span): Double = {
    val kids = (all.filter(_.parent == s.id).map(k => (k.startMs, k.endMs)) ++
      jobsUnder(s.id).map(j => (j.startMs, j.endMs))).sortBy(_._1)
    var covered = 0L
    var cur = Long.MinValue
    kids.foreach { case (b, e) =>
      val lo = math.max(b, cur)
      if (e > lo) { covered += e - lo; cur = e }
    }
    math.max(0.0, s.seconds - covered / 1e3)
  }

  /** The span tree, Spark jobs included, as JSON for the trace file. */
  def spansJson: String = {
    val ss = all.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"kind":${Main.jstr(s.kind)},"name":${Main.jstr(s.name)},"start_ms":${s.startMs},"dur_s":${s.seconds},"self_s":${selfS(s)}}"""
    }
    val js = all.flatMap(s => jobsUnder(s.id)).map { j =>
      s"""{"job":${j.id},"parent":${c.jobSpan(j)},"kind":"job","name":${Main.jstr(j.callSite)},"start_ms":${j.startMs},"dur_s":${(j.endMs - j.startMs) / 1e3}}"""
    }
    (ss ++ js).mkString("[", ",\n", "]")
  }
}
