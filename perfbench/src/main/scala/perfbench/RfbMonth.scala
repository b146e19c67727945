package perfbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.{LocalFetcher, ManifestEntry, RfbPipeline, RfbQueries, SnapshotDiff, Status}

/** The reference's own job. Set-up generates seeded months M to M+4,
  * ingests M into a fresh parquet lake and warms up with an untimed
  * repetition for M+1. Each repetition runs the full monthly pipeline for
  * the next month into that lake through `LocalFetcher` and `ParquetSink`,
  * then a round of a fixed mix of analyst reads over it, the
  * month-over-month diff included. Every archive status, every table audit
  * and every read answer is checked against the generator's expected
  * answers.
  */
final class RfbMonth(ctx: Ctx) {
  import ctx._
  import RfbMonth._
  private val rowsPerPart = cfg.get("rfb_month").get("rows_per_part").asInt
  private val work = a.work

  private def pipeline(name: String, month: String, src: Path) =
    new RfbPipeline(spark, work.resolve(name), lake, month, new LocalFetcher(src),
      backoffMs = 0L, ioParallelism = a.cpus)

  private val lake = work.resolve("lake").toString

  /** Every archive ends as sucesso, every table's audit matches the
    * generated row count, and the loaded total matches the CSV total.
    */
  private def checkRun(p: RfbPipeline, entries: Seq[ManifestEntry],
      exp: MonthGen.Expected): Unit = {
    tally.check("archives listed", entries.size == exp.archives,
      s"${entries.size} of ${exp.archives}")
    entries.foreach(e => tally.check(s"archive ${e.arquivo}",
      e.statusCarga == Status.Sucesso, e.toString.take(300)))
    exp.rowsPerTable.foreach { case (t, n) =>
      val got = p.lastAudits.get(t).map(_.rows)
      tally.check(s"audit $t", got.contains(n), s"audited $got, generated $n")
    }
    val loaded = entries.map(_.registrosCarregados).sum
    tally.check("rows loaded", loaded == exp.csvRows, s"$loaded of ${exp.csvRows}")
  }

  /** One round of the read mix over month `m`, which `p` publishes: six
    * counts, two CNAE aggregations and two diffs against month m-1.
    */
  private def round(p: RfbPipeline, m: Int, exp: MonthGen.Expected,
      salt: Long): Seq[Read] = {
    val rnd = new scala.util.Random(a.seed * 7919L + salt)
    def estab() = p.typedView("rfb_estabelecimentos")
    val ufs = Seq.fill(3)(MonthGen.Ufs(rnd.nextInt(MonthGen.Ufs.size)))
    val portes = Seq.fill(2)(MonthGen.Portes(rnd.nextInt(MonthGen.Portes.size)))
    val mix =
      ufs.map(uf => Read(s"uf_count/$uf",
        () => estab().filter(col("uf") === uf), _.count(), exp.estabPerUf(uf))) ++
      portes.map(po => Read(s"porte_count/$po",
        () => p.typedView("rfb_empresas").filter(col("porte") === po),
        _.count(), exp.empresasPerPorte(po))) ++
      Seq.fill(2)(Read("per_cnae",
        () => RfbQueries.establishmentsPerCnae(estab(), p.typedView("rfb_cnaes")),
        _.collect().map(r => r.getString(0) -> r.getLong(2)).toMap,
        exp.activePerCnae)) ++
      Seq(Read("valid_cnpj",
        () => estab().filter(col("cnpj_valido")), _.count(), exp.validCnpj)) ++
      Seq.fill(2)(Read("diff",
        () => SnapshotDiff.summary(spark, lake, "rfb_estabelecimentos",
          month(m - 1), month(m)),
        _.collect().map(r => r.getString(0) -> r.getLong(1)).toMap, exp.diff))
    rnd.shuffle(mix)
  }

  private def runRead(r: Read): Cost =
    cost {
      spans("read", r.name) {
        val got =
          try {
            val df = spans("construct", r.name)(r.build())
            spans("action", r.name)(r.answer(df))
          } catch { case NonFatal(e) => "error " + e.toString.take(300) }
        tally.check(s"read ${r.name}", got == r.want, s"got $got, want ${r.want}")
      }
    }._2

  private def monthlyRun(m: Int, src: Path, exp: MonthGen.Expected): Pass = {
    val name = s"pipe_${month(m)}"
    val p = pipeline(name, month(m), src)
    var loadRead = 0L
    val (_, c) = cost(spans("pass", name) {
      def phase[A](n: String)(body: => A): A = spans("phase", n)(body)
      val planned = phase("plan")(p.plan(Listing))
      val dl = phase("download")(p.download(planned))
      val ex = phase("extract")(p.extract(dl))
      val fx = phase("fix")(p.fix(ex))
      val r0 = Main.rchar()
      val ld = phase("load")(p.load(fx))
      loadRead = Main.rchar() - r0
      val rep = phase("report")(p.report(ld))
      tally.check("report", rep.falhasOuPendentes == 0 && rep.sucesso == exp.archives,
        s"${rep.sucesso} sucesso, ${rep.falhasOuPendentes} failed")
      checkRun(p, ld, exp)
    })
    Pass(c, loadRead, p)
  }

  /** Timed part of repetition `m`: the monthly run for month `m`, then a
    * round of reads over it.
    */
  private def repetition(m: Int, src: Path, exp: MonthGen.Expected,
      lat: ArrayBuffer[Cost]): Pass =
    spans("repetition", s"rfb_month/${month(m)}") {
      val pass = monthlyRun(m, src, exp)
      round(pass.pipe, m, exp, m).foreach(r => lat += runRead(r))
      pass
    }

  def run(sessionS: Double): String = {
    val repetitions = if (a.trace) 3 else TimedRepetitions
    val months = (0 to repetitions + 1).map { m =>
      val src = work.resolve(s"src_${month(m)}")
      val (exp, s) = time(MonthGen.write(src, a.seed, m, rowsPerPart))
      (src, exp, s)
    }
    val (srcM, expM, _) = months(0)
    val ingestS = time(monthlyRun(0, srcM, expM))._2
    val warmS = time(repetition(1, months(1)._1, months(1)._2, ArrayBuffer()))._2
    // the control trio is a per-layer reading: timed runs leave it out
    val trioS = if (a.trace) new Suite(ctx).trioSeconds() else 0.0
    // the traced run attaches the listeners to the middle repetition only;
    // its overhead compares it with the mean of its untraced neighbours
    val lat = ArrayBuffer[Cost]()
    var c: Collector = null
    val reps = (2 to repetitions + 1).map { m =>
      if (a.trace && m == Traced) c = attach()
      val r = time(repetition(m, months(m)._1, months(m)._2, lat))
      if (c != null && m == Traced) { drain(); c.detach(spark) }
      r
    }
    if (!a.trace) {
      Main.result(tally, Seq(
        ("setup_s", sessionS + ingestS + warmS, "s"),
        ("peak_rss_mb", Main.peakRssMb(), "MB"),
        ("op_cpu_gmean_s", Main.gmean(lat.map(_.cpuS).toSeq), "s"),
        ("pass_cpu_s", Main.median(reps.map(_._1.cost.cpuS)), "s")),
        Seq("ops" -> lat.size.toString,
          "rows" -> months.map(_._2.csvRows).mkString("[", ",", "]"),
          "op_p50_wall_s" -> Main.median(lat.map(_.wallS).toSeq).toString,
          "op_p50_cpu_s" -> Main.median(lat.map(_.cpuS).toSeq).toString,
          "passes_wall_s" -> reps.map(_._1.cost.wallS).mkString("[", ",", "]"),
          "passes_cpu_s" -> reps.map(_._1.cost.cpuS).mkString("[", ",", "]"),
          "setup_parts_s" -> s"[$sessionS,$ingestS,$warmS]",
          "generate_s" -> months.map(_._3).mkString("[", ",", "]")))
    } else {
      val (pass, tracedS) = reps(Traced - 2)
      val untracedS = (reps(Traced - 3)._2 + reps(Traced - 1)._2) / 2
      val root = spans.all.find(_.name == s"rfb_month/${month(Traced)}").get.id
      val l = layer(c, root)
      Trace.write(a, l)
      val phases = l.ofKind("phase")
      def ph(n: String) = phases.filter(_.name == n)
      val fixed = Main.du(work.resolve(s"pipe_${month(Traced)}").resolve("fixed"))._1.toDouble
      // the traced month's part files only
      val (m1Bytes, m1Files) = Main.du(Paths.get(lake), f =>
        f.getFileName.toString.startsWith("part-") &&
          f.getParent.getFileName.toString == s"ref_month=${month(Traced)}")
      val reads = l.ofKind("read")
      val readActs = l.ofKind("action")
      val readPlan = l.planS(readActs)
      val fixW = l.work(ph("fix"))
      val loadW = l.work(ph("load"))
      val readW = l.work(reads)
      val m = Map(
        "pipeline.rows_per_s" -> months(Traced)._2.csvRows / phases.map(_.seconds).sum,
        "pipeline.fix.jobs" -> fixW.jobs.toDouble, "pipeline.fix.tasks" -> fixW.tasks.toDouble,
        "pipeline.fix.executor_cpu_s" -> fixW.cpuS, "pipeline.fix.bytes_written" -> fixed,
        "pipeline.load.jobs" -> loadW.jobs.toDouble, "pipeline.load.tasks" -> loadW.tasks.toDouble,
        "pipeline.load.executor_cpu_s" -> loadW.cpuS,
        "pipeline.load.read_bytes" -> pass.loadReadBytes.toDouble,
        "pipeline.load.scan_passes" -> pass.loadReadBytes / fixed,
        "pipeline.load.output_bytes" -> m1Bytes.toDouble,
        "pipeline.load.output_files" -> m1Files.toDouble,
        "lake.bytes_per_input_byte" -> m1Bytes / fixed,
        "lake.construct_s" -> l.ofKind("construct").map(_.seconds).sum,
        "lake.plan_s" -> readPlan,
        "lake.exec_s" -> (readActs.map(_.seconds).sum - readPlan),
        "lake.jobs" -> readW.jobs.toDouble, "lake.tasks" -> readW.tasks.toDouble,
        "lake.input_bytes" -> readW.inBytes.toDouble) ++
        Seq("plan", "download", "extract", "fix", "load", "report")
          .map(n => s"pipeline.${n}_s" -> ph(n).map(_.seconds).sum) ++
        Layers.common(trioS, tracedS / untracedS - 1)
      Main.result(tally, Layers.all(m),
        Seq("untraced_s" -> untracedS.toString, "traced_s" -> tracedS.toString))
    }
  }
}

object RfbMonth {
  /** One analyst read: build the frame, compute its answer, compare. */
  final case class Read(name: String, build: () => DataFrame,
      answer: DataFrame => Any, want: Any)

  /** Wall and CPU seconds and load-phase rchar delta of one monthly run. */
  final case class Pass(cost: Cost, loadReadBytes: Long, pipe: RfbPipeline)

  /** Timed repetitions of an untraced run: months M+2 and M+3, each
    * published into the lake month M was ingested into.
    */
  val TimedRepetitions = 2
  /** The repetition (month index) the traced run attaches its listeners
    * to; the traced run has three, M+2 to M+4.
    */
  val Traced = 3

  /** `yyyyMM` of month index `m`; 0 is M. */
  def month(m: Int): String = f"2026${m + 1}%02d"
  val Listing = "file://rfb/"
}
