package graft.pipeline

import java.io.FileOutputStream
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.scalatest.funsuite.AnyFunSuite

import graft.ReadJobs.jobsDuring
import graft.TestSpark

/** The load's count audit launches no Spark job of its own: the expected
  * counts are the record counts the fix pass took of each corrected file
  * (`registrosCorrigidos`), and the loaded counts come from the lake's
  * parquet footers ([[TableSink.loadedRows]]). Each loaded table costs its
  * one staging write.
  */
class LoadAuditSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def mkZip(dir: Path, zipName: String,
      files: Seq[(String, String)]): Unit = {
    val z = new ZipOutputStream(new FileOutputStream(dir.resolve(zipName).toFile))
    try files.foreach { case (name, text) =>
      z.putNextEntry(new ZipEntry(name))
      z.write(text.getBytes(StandardCharsets.UTF_8))
      z.closeEntry()
    } finally z.close()
  }

  /** A fixed month of three tables (one with a blank line) plus an
    * unroutable member; returns the pipeline and its entries after `fix`.
    */
  private def fixedMonth(): (RfbPipeline, Seq[ManifestEntry], Path) = {
    val src = Files.createTempDirectory("rfb-src")
    val work = Files.createTempDirectory("rfb-work")
    val out = Files.createTempDirectory("rfb-out")
    mkZip(src, "Cnaes.zip", Seq(
      "K1.D509.CNAECSV" -> "0111301;Cultivo de café\n\n0111302;Ação agrícola\n"))
    mkZip(src, "Mix.zip", Seq(
      "K1.D509.MUNIC" -> "0001;São Paulo\n0002;Río\n0003;Recife\n",
      "K1.D509.PAIS" -> "105;Brasil\n",
      "K1.D509.LEIAME" -> "readme\n"))
    Files.write(src.resolve("listing.html"),
      """<a href="Cnaes.zip">c</a><a href="Mix.zip">m</a>"""
        .getBytes(StandardCharsets.UTF_8))
    val pipe = new RfbPipeline(spark, work, out.toString, "202601",
      new LocalFetcher(src), backoffMs = 0L)
    val fixed = pipe.fix(pipe.extract(pipe.download(pipe.plan("file://rfb/"))))
    (pipe, fixed, out)
  }

  private def outcome(entries: Seq[ManifestEntry]) =
    entries.map(e => (e.arquivo, e.statusCarga, e.registrosCarregados))

  test("fix records each corrected file's record count; load then runs " +
    "one job per table, and a manifest without the counts rescans") {
    val (pipe, fixed, _) = fixedMonth()
    val byName = fixed.map(e => e.arquivo -> e).toMap
    assert(byName("Cnaes.zip").registrosCorrigidos === Seq(2L))
    val mix = byName("Mix.zip")
    assert(mix.arquivosCorrigidos.map(f => Paths.get(f).getFileName.toString) ===
      Seq("K1.D509__corrigido.MUNIC", "K1.D509__corrigido.PAIS",
        "K1.D509__corrigido.LEIAME"))
    assert(mix.registrosCorrigidos === Seq(3L, 1L, 1L))
    // the counts survive the manifest round trip
    assert(Manifest.load(pipe.manifestPath) === fixed)

    val (loaded, jobs) = jobsDuring(pipe.load(fixed))
    assert(outcome(loaded) === Seq(("Cnaes.zip", Status.Sucesso, 2L),
      ("Mix.zip", Status.Sucesso, 4L)))
    assert(jobs === 3, "one staging write per loaded table")

    // a manifest written before the field existed has no counts: the load
    // falls back to one executor scan of the corrected files
    val json = new String(Files.readAllBytes(Paths.get(pipe.manifestPath)),
      StandardCharsets.UTF_8)
    val old = json.replaceAll(",\"registrosCorrigidos\":\\[[^\\]]*\\]", "")
    assert(!old.contains("registrosCorrigidos"))
    Files.write(Paths.get(pipe.manifestPath), old.getBytes(StandardCharsets.UTF_8))
    val reloaded = Manifest.load(pipe.manifestPath)
      .map(_.copy(statusCarga = Status.Pendente, registrosCarregados = -1L))
    assert(reloaded.forall(_.registrosCorrigidos.isEmpty))
    val (rescanned, jobs2) = jobsDuring(pipe.load(reloaded))
    assert(outcome(rescanned) === outcome(loaded))
    assert(jobs2 === jobs + 1, "the record-count scan is one more job")
  }

  test("a corrected file truncated between fix and load fails the audit") {
    // the expectation is the file the fix pass wrote; a re-scan at load
    // time would count the truncated file and agree with the lake
    val (pipe, fixed, out) = fixedMonth()
    val munic = Paths.get(fixed.find(_.arquivo == "Mix.zip").get
      .arquivosCorrigidos.head)
    Files.write(munic, "0001;São Paulo\n".getBytes(StandardCharsets.UTF_8))
    val loaded = pipe.load(fixed).map(e => e.arquivo -> e).toMap
    assert(loaded("Mix.zip").statusCarga === Status.Falhou)
    assert(loaded("Mix.zip").registrosCarregados === -1L)
    assert(loaded("Cnaes.zip").statusCarga === Status.Sucesso)
    assert(pipe.lastAudits("rfb_municipios").rows === 1L)
    assert(spark.read.parquet(s"$out/rfb_municipios/ref_month=202601")
      .count() === 1L)
  }
}
