package graft.tools

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.pipeline.{LocalFetcher, ManifestEntry, ParquetSink, RfbPipeline, RfbTables, Status}

/** `RfbPipeline.load` on a whole rehearsal month (all ten tables, every
  * charset and zip hazard of [[Rehearse.gen]]), at a size that keeps each
  * run to a few seconds: how many files a table's write makes, and that
  * loading the tables at once changes no result and isolates a failing
  * table.
  */
class MonthLoadSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private lazy val base = Files.createTempDirectory("month_load")
  private lazy val src = {
    val dir = base.resolve("src")
    Rehearse.gen(dir, 400)
    dir
  }
  private val tables = RfbTables.routing.values.toSeq.distinct.sorted
  private val Month = Rehearse.RefMonth

  override def afterAll(): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)

  private def work(run: String): Path = base.resolve(s"work_$run")
  private def out(run: String): String = s"$base/out_$run"

  private def pipeline(ss: SparkSession, run: String) =
    new RfbPipeline(ss, work(run), out(run), Month, new LocalFetcher(src),
      backoffMs = 0L)

  /** One full run: the pipeline (for its audits) and its final entries. */
  private def fullRun(ss: SparkSession, run: String)
      : (RfbPipeline, Seq[ManifestEntry]) = {
    val p = pipeline(ss, run)
    (p, p.run("file://rfb/"))
  }

  private lazy val control = fullRun(spark, "a")

  private def partFiles(run: String, table: String): Int = {
    val dir = Paths.get(out(run), table, s"ref_month=$Month")
    val ls = Files.list(dir)
    try ls.iterator().asScala.count(_.getFileName.toString.startsWith("part-"))
    finally ls.close()
  }

  /** Bytes of the corrected files routed to `table`. */
  private def correctedBytes(entries: Seq[ManifestEntry], table: String): Long =
    entries.flatMap(_.arquivosCorrigidos)
      .filter(f => RfbTables.route(f).contains(table))
      .map(f => Files.size(Paths.get(f))).sum

  private def fingerprints(run: String): Map[String, (Long, BigDecimal)] = {
    val sink = new ParquetSink(out(run))
    tables.map(t => t -> Rehearse.fingerprint(sink.readBack(spark, t, Month)))
      .toMap
  }

  /** The entries with the run's own work dir taken out of every path. */
  private def portable(run: String, entries: Seq[ManifestEntry])
      : Seq[ManifestEntry] = {
    val w = work(run).toString
    def p(s: String) = s.replace(w, "<work>")
    entries.map(e => e.copy(caminhoZip = p(e.caminhoZip),
      arquivosExtraidos = e.arquivosExtraidos.map(p),
      arquivosCorrigidos = e.arquivosCorrigidos.map(p)))
  }

  test("size rule: one part file per table below the cap; a small cap " +
    "splits each table by bytes with the same rows and audits") {
    val (pa, ea) = control
    assert(pa.report(ea).falhasOuPendentes === 1, "only the corrupt zip")
    tables.foreach(t => assert(partFiles("a", t) === 1, t))

    val cap = 64L * 1024
    val small = spark.newSession()
    small.conf.set("spark.sql.files.maxPartitionBytes", cap.toString)
    val (pb, eb) = fullRun(small, "b")
    assert(pb.lastAudits === pa.lastAudits)
    assert(fingerprints("b") === fingerprints("a"))
    Seq("rfb_empresas", "rfb_estabelecimentos", "rfb_socios").foreach { t =>
      val want = (correctedBytes(eb, t) + cap - 1) / cap
      assert(want > 1, s"$t fits one split; the check would be vacuous")
      assert(partFiles("b", t) >= want, s"$t: ${partFiles("b", t)} files")
    }
  }

  test("size rule: a table past openCostInBytes x parallelism keeps one " +
    "write task per slot, as the scan splits it") {
    // the regime of a full-size RFB table on a real cluster, in miniature:
    // Spark splits such a scan into about defaultParallelism pieces, and the
    // write must not coalesce them down to bytes / maxPartitionBytes
    val (pa, _) = control
    val slots = spark.sparkContext.defaultParallelism
    val cheap = spark.newSession()
    cheap.conf.set("spark.sql.files.openCostInBytes", "1024")
    val (pd, ed) = fullRun(cheap, "d")
    assert(pd.lastAudits === pa.lastAudits)
    assert(fingerprints("d") === fingerprints("a"))
    Seq("rfb_empresas", "rfb_estabelecimentos", "rfb_socios").foreach { t =>
      assert(correctedBytes(ed, t) > 1024L * slots, s"$t is below the regime")
      assert(partFiles("d", t) >= slots, s"$t: ${partFiles("d", t)} files")
    }
  }

  test("determinism: two runs of one month give equal tables and manifests") {
    val (pa, ea) = control
    val (pc, ec) = fullRun(spark, "c")
    assert(fingerprints("c") === fingerprints("a"))
    assert(pc.lastAudits === pa.lastAudits)
    assert(portable("c", ec) === portable("a", ea))
    val saved = graft.pipeline.Manifest.load(pc.manifestPath)
    assert(portable("c", saved) === portable("a", ea))
  }

  test("failure isolation: an unreadable corrected file fails only its table") {
    val broken = "rfb_socios"
    val p = pipeline(spark, "f")
    val fixed = p.fix(p.extract(p.download(p.plan("file://rfb/"))))
    val victim = fixed.flatMap(_.arquivosCorrigidos)
      .find(f => RfbTables.route(f).contains(broken)).get
    Files.delete(Paths.get(victim))
    val done = p.load(fixed)

    assert(p.lastLoadErrors.keySet === Set(broken))
    // the other nine pass the count audit with the control run's audits
    // (the fixture's wide dimension codes fail the strict key-shape check
    // in every run, so `passed` is not the bar here)
    val expected = control._1.lastAudits
    assert(p.lastAudits === expected - broken)
    done.filter(_.statusCorrecao == Status.Sucesso).foreach { e =>
      val want =
        if (e.tabelasDestino.contains(broken)) Status.Falhou else Status.Sucesso
      assert(e.statusCarga === want, e.arquivo)
    }
    assert(done.count(_.statusCarga == Status.Falhou) === 10)
    val sink = new ParquetSink(out("f"))
    (tables.toSet - broken).foreach { t =>
      assert(sink.loadedRows(spark, t, Month) === expected(t).rows, t)
    }
  }
}
