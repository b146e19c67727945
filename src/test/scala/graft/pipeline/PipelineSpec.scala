package graft.pipeline

import java.io.FileOutputStream
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** End-to-end fixture run per FIXTURES.md §A: every reference semantic has a
  * fixture (charset mix, corrupt zip + self-heal, unmapped file, multi-file
  * zip, retry, resume).
  */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def mkZip(dir: Path, zipName: String,
      files: Seq[(String, Array[Byte])]): Unit = {
    val z = new ZipOutputStream(new FileOutputStream(dir.resolve(zipName).toFile))
    try files.foreach { case (name, bytes) =>
      z.putNextEntry(new ZipEntry(name)); z.write(bytes); z.closeEntry()
    } finally z.close()
  }

  private def listingHtml(zips: Seq[String]): String =
    "<html><body>" +
      zips.map(z => s"""<a href="$z">$z</a>""").mkString +
      """<a href="leiame.pdf">doc</a></body></html>"""

  private def freshDirs(): (Path, Path, Path) = {
    val src = Files.createTempDirectory("rfb-src")
    val work = Files.createTempDirectory("rfb-work")
    val out = Files.createTempDirectory("rfb-out")
    (src, work, out)
  }

  test("full run: charset mix, multi-file zip, unmapped file, report") {
    val (src, work, out) = freshDirs()
    // latin-1 file with accents
    mkZip(src, "Cnaes.zip", Seq(
      "K1.D509.CNAECSV" ->
        "0111301;Cultivo de café\n0111302;Ação agrícola\n"
          .getBytes(StandardCharsets.ISO_8859_1)))
    // utf-8 with BOM
    mkZip(src, "Naturezas.zip", Seq(
      "K1.D509.NATJU" -> (Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++
        "2046;Sociedade Anônima\n".getBytes(StandardCharsets.UTF_8))))
    // multi-file zip: BOTH files must load (divergence from main.py:130)
    mkZip(src, "Mix.zip", Seq(
      "K1.D509.MUNIC" -> "0001;São Paulo\n0002;Río\n".getBytes(StandardCharsets.UTF_8),
      "K1.D509.PAIS" -> "105;Brasil\n;Desconhecido\n".getBytes(StandardCharsets.UTF_8)))
    // unmapped filename → carga ignorada
    mkZip(src, "Leiame.zip", Seq(
      "K1.D509.LEIAME" -> "readme\n".getBytes(StandardCharsets.UTF_8)))

    val zips = Seq("Cnaes.zip", "Naturezas.zip", "Mix.zip", "Leiame.zip")
    Files.write(src.resolve("listing.html"),
      listingHtml(zips).getBytes(StandardCharsets.UTF_8))

    val pipe = new RfbPipeline(spark, work, out.toString, "202601",
      new LocalFetcher(src), backoffMs = 0L)
    val done = pipe.run("file://rfb/")

    val byName = done.map(e => e.arquivo -> e).toMap
    assert(byName("Cnaes.zip").statusCarga == Status.Sucesso)
    assert(byName("Naturezas.zip").statusCarga == Status.Sucesso)
    assert(byName("Mix.zip").statusCarga == Status.Sucesso)
    assert(byName("Leiame.zip").statusCarga == Status.Ignorada)

    // accents normalized to real UTF-8 in the loaded table
    val cnaes = spark.read.parquet(s"$out/rfb_cnaes").collect()
    assert(cnaes.length == 2)
    assert(cnaes.map(_.getString(1)).toSet ==
      Set("Cultivo de café", "Ação agrícola"))
    // BOM stripped: first cell is the bare code
    val natju = spark.read.parquet(s"$out/rfb_naturezas").collect()
    assert(natju.head.getString(0) == "2046")
    // multi-file zip: both tables materialized
    assert(spark.read.parquet(s"$out/rfb_municipios").count() == 2)
    assert(spark.read.parquet(s"$out/rfb_paises").count() == 2)
    // line counts recorded
    assert(byName("Cnaes.zip").linhasOriginais == 2)
    assert(byName("Cnaes.zip").linhasCorrigidas == 2)
    assert(byName("Mix.zip").registrosCarregados == 4)
    // typed view applies public column names
    val typed = pipe.typedView("rfb_cnaes")
    assert(typed.columns.take(2).toSeq == Seq("codigo", "descricao"))
    // report
    val rep = pipe.report(done)
    assert(rep.sucesso == 3 && rep.falhasOuPendentes == 1)
  }

  test("blank lines in a source file don't fail the load audit") {
    // Spark's CSV reader skips fully-empty lines; the audit's expected
    // count must be the RECORD count, not the physical-line count, or one
    // blank line marks a fully-loaded table falhou while the lake holds
    // the data (r10 review)
    val (src, work, out) = freshDirs()
    mkZip(src, "Motivos.zip", Seq(
      "K1.D509.MOTIV" ->
        "00;Sem motivo\n\n01;Extincao\n\n".getBytes(StandardCharsets.UTF_8)))
    Files.write(src.resolve("listing.html"),
      listingHtml(Seq("Motivos.zip")).getBytes(StandardCharsets.UTF_8))
    val pipe = new RfbPipeline(spark, work, out.toString, "202601",
      new LocalFetcher(src), backoffMs = 0L)
    val done = pipe.run("file://rfb/")
    assert(done.head.statusCarga == Status.Sucesso, done.head.toString)
    assert(done.head.registrosCarregados == 2L)
    assert(spark.read.parquet(s"$out/rfb_motivos/ref_month=202601")
      .count() === 2L)
  }

  test("zip member names without the UTF-8 flag decode as cp437, not MALFORMED") {
    // a legal cp437-named member (Python zipfile's default decoding) used
    // to throw IllegalArgumentException out of zf.entries() and kill the
    // WHOLE extract phase on every resume (r10 review)
    val (src, work, out) = freshDirs()
    // a cp437 ZipOutputStream writes names in cp437 WITHOUT the UTF-8
    // language-encoding flag — 'é' lands as raw byte 0x82, which the JDK
    // default UTF-8 decoder rejects as MALFORMED
    val z = new ZipOutputStream(
      new FileOutputStream(src.resolve("Quals.zip").toFile),
      java.nio.charset.Charset.forName("Cp437"))
    try {
      z.putNextEntry(new ZipEntry("K1.Domicílio.QUALS"))
      z.write("05;Administrador\n".getBytes(StandardCharsets.UTF_8))
      z.closeEntry()
    } finally z.close()
    Files.write(src.resolve("listing.html"),
      listingHtml(Seq("Quals.zip")).getBytes(StandardCharsets.UTF_8))
    val pipe = new RfbPipeline(spark, work, out.toString, "202601",
      new LocalFetcher(src), backoffMs = 0L)
    val done = pipe.run("file://rfb/")
    assert(done.head.statusExtracao == Status.Sucesso, done.head.toString)
    assert(done.head.statusCarga == Status.Sucesso)
  }

  test("intra-archive duplicate basenames: both members load (no last-wins loss)") {
    // the reference's extractall keeps zip subdirs so 0/X and 1/X never
    // collide; our per-archive flatten must disambiguate, or one member's
    // rows vanish and the survivor's double-load with the audit still green
    val (src, work, out) = freshDirs()
    mkZip(src, "Motivos.zip", Seq(
      "0/K1.D509.MOTIV" -> "00;Sem motivo\n".getBytes(StandardCharsets.UTF_8),
      "1/K1.D509.MOTIV" -> "01;Extinção\n".getBytes(StandardCharsets.UTF_8)))
    Files.write(src.resolve("listing.html"),
      listingHtml(Seq("Motivos.zip")).getBytes(StandardCharsets.UTF_8))
    val pipe = new RfbPipeline(spark, work, out.toString, "202601",
      new LocalFetcher(src), backoffMs = 0L)
    val done = pipe.run("file://rfb/")
    assert(done.head.statusCarga == Status.Sucesso)
    val rows = spark.read.parquet(s"$out/rfb_motivos").collect()
    assert(rows.length == 2, rows.mkString(","))
    assert(rows.map(_.getString(0)).toSet == Set("00", "01"))
  }

  test("corrupt zip self-heals: download reset to pendente, next run loads (main.py:116-119)") {
    val (src, work, out) = freshDirs()
    Files.write(src.resolve("Quals.zip"),
      "this is not a zip file".getBytes(StandardCharsets.UTF_8))
    Files.write(src.resolve("listing.html"),
      listingHtml(Seq("Quals.zip")).getBytes(StandardCharsets.UTF_8))

    val pipe = new RfbPipeline(spark, work, out.toString, "202601",
      new LocalFetcher(src), backoffMs = 0L)
    val r1 = pipe.run("file://rfb/")
    // both stages reset so a resumed run re-downloads AND re-extracts
    // (the reference's falhou-marking leaves it unrecoverable, main.py:117)
    assert(r1.head.statusExtracao == Status.Pendente)
    assert(r1.head.statusDownload == Status.Pendente) // self-heal

    // upstream fixes the archive; resumed run re-downloads and completes
    mkZip(src, "Quals.zip", Seq(
      "K1.D509.QUALS" -> "05;Administrador\n".getBytes(StandardCharsets.UTF_8)))
    val pipe2 = new RfbPipeline(spark, work, out.toString, "202601",
      new LocalFetcher(src), backoffMs = 0L)
    val r2 = pipe2.run("file://rfb/")
    assert(r2.head.statusCarga == Status.Sucesso)
    assert(spark.read.parquet(s"$out/rfb_qualificacoes").count() == 1)
  }

  test("an empty listing is refused loudly, never persisted as a done manifest") {
    // a maintenance/truncated page (HTTP 200, zero .zip anchors) used to
    // persist manifesto_*.json with 0 entries — every later run "resumed"
    // 0 entries and reported success until the file was hand-deleted
    // (r15 review). The throw also reaches Reporter.failed via RfbMain.
    val (src, work, out) = freshDirs()
    Files.write(src.resolve("listing.html"),
      listingHtml(Seq.empty).getBytes(StandardCharsets.UTF_8))
    val pipe = new RfbPipeline(spark, work, out.toString, "202601",
      new LocalFetcher(src), backoffMs = 0L)
    val ex = intercept[IllegalStateException](pipe.run("file://rfb/"))
    assert(ex.getMessage.contains("no .zip anchors"))
    assert(!Manifest.exists(pipe.manifestPath), "nothing may be persisted")
    // the listing comes back; the next run plans and loads normally
    mkZip(src, "Paises.zip", Seq(
      "K1.D509.PAIS" -> "105;Brasil\n".getBytes(StandardCharsets.UTF_8)))
    Files.write(src.resolve("listing.html"),
      listingHtml(Seq("Paises.zip")).getBytes(StandardCharsets.UTF_8))
    val r = new RfbPipeline(spark, work, out.toString, "202601",
      new LocalFetcher(src), backoffMs = 0L).run("file://rfb/")
    assert(r.head.statusCarga == Status.Sucesso)
  }

  test("a VANISHED zip self-heals like a corrupt one: re-download, not terminal falhou") {
    // statusDownload=sucesso but the file is gone (workspace cleanup, disk
    // eviction): the r10 IOException→Falhou hardening accidentally made
    // this terminal, though re-downloading is exactly what fixes it
    // (r15 review)
    val (src, work, out) = freshDirs()
    mkZip(src, "Paises.zip", Seq(
      "K1.D509.PAIS" -> "105;Brasil\n".getBytes(StandardCharsets.UTF_8)))
    Files.write(src.resolve("listing.html"),
      listingHtml(Seq("Paises.zip")).getBytes(StandardCharsets.UTF_8))
    val pipe = new RfbPipeline(spark, work, out.toString, "202601",
      new LocalFetcher(src), backoffMs = 0L)
    // manifest claims a completed download whose file does not exist
    Manifest.save(pipe.manifestPath, Seq(ManifestEntry(
      arquivo = "Paises.zip", url = "file://rfb/Paises.zip",
      caminhoZip = work.resolve("downloads").resolve("Paises.zip").toString,
      statusDownload = Status.Sucesso)))
    val r1 = pipe.run("file://rfb/")
    assert(r1.head.statusDownload == Status.Pendente, "reset for re-download")
    assert(r1.head.statusExtracao == Status.Pendente)
    val r2 = new RfbPipeline(spark, work, out.toString, "202601",
      new LocalFetcher(src), backoffMs = 0L).run("file://rfb/")
    assert(r2.head.statusCarga == Status.Sucesso)
    assert(spark.read.parquet(s"$out/rfb_paises").count() == 1)
  }

  test("fix mirror cannot collide: archive named like another's duplicate subdir") {
    // X.zip's duplicate members extract to X/X_m<idx>/; an archive
    // literally named X_m1.zip used to land in the SAME fixed/X_m1 mirror
    // dir under the one-level scheme — concurrent transcodes then clobber
    // each other (r15 review). The relative-path mirror keeps X/X_m1 and
    // X_m1 apart; all three rows must load.
    val (src, work, out) = freshDirs()
    mkZip(src, "Mix.zip", Seq(
      "a/K1.D509.PAIS" -> "105;Brasil\n".getBytes(StandardCharsets.UTF_8),
      "b/K1.D509.PAIS" -> "106;Argentina\n".getBytes(StandardCharsets.UTF_8)))
    mkZip(src, "Mix_m1.zip", Seq(
      "K1.D509.PAIS" -> "107;Chile\n".getBytes(StandardCharsets.UTF_8)))
    Files.write(src.resolve("listing.html"),
      listingHtml(Seq("Mix.zip", "Mix_m1.zip"))
        .getBytes(StandardCharsets.UTF_8))
    val pipe = new RfbPipeline(spark, work, out.toString, "202601",
      new LocalFetcher(src), backoffMs = 0L)
    val done = pipe.run("file://rfb/")
    assert(done.forall(_.statusCarga == Status.Sucesso))
    val rows = spark.read.parquet(s"$out/rfb_paises")
      .collect().map(_.getString(0)).toSet
    assert(rows === Set("105", "106", "107"))
  }

  test("a load that THROWS records the root cause, not just a bare falhou") {
    val (src, work, out) = freshDirs()
    mkZip(src, "Paises.zip", Seq(
      "K1.D509.PAIS" -> "105;Brasil\n".getBytes(StandardCharsets.UTF_8)))
    Files.write(src.resolve("listing.html"),
      listingHtml(Seq("Paises.zip")).getBytes(StandardCharsets.UTF_8))
    val pipe = new RfbPipeline(spark, work, out.toString, "202601",
      new LocalFetcher(src), backoffMs = 0L)
    val r1 = pipe.run("file://rfb/")
    assert(r1.head.statusCarga == Status.Sucesso)
    // force a rebuild whose corrected file is gone: the CSV read throws
    // and the exception text must survive into lastLoadErrors (r15
    // review: the catch used to discard it entirely)
    Files.delete(java.nio.file.Paths.get(r1.head.arquivosCorrigidos.head))
    Manifest.save(pipe.manifestPath,
      r1.map(_.copy(statusCarga = Status.Pendente)))
    val pipe2 = new RfbPipeline(spark, work, out.toString, "202601",
      new LocalFetcher(src), backoffMs = 0L)
    val r2 = pipe2.run("file://rfb/")
    assert(r2.head.statusCarga == Status.Falhou)
    assert(pipe2.lastLoadErrors.contains("rfb_paises"),
      s"root cause missing: ${pipe2.lastLoadErrors}")
  }

  test("manifest from an older build loads with defaults; corrupt lines re-plan") {
    // r11 review: .as[ManifestEntry] threw 'Null value appeared in
    // non-nullable field' on any manifest line missing a primitive field
    // — i.e. every manifest written BEFORE a field was added — making
    // crash-resume impossible exactly when the code changed
    val p = Files.createTempDirectory("mani-old").resolve("m.json")
    Files.write(p, Seq(
      // an "older build" line: no tentativasDownload / linhas* /
      // registrosCarregados / tabelasDestino
      """{"arquivo":"A.zip","url":"u://a","statusDownload":"sucesso",
        |"statusExtracao":"sucesso","statusCorrecao":"sucesso",
        |"statusCarga":"sucesso","caminhoZip":"/w/A.zip",
        |"arquivosExtraidos":["/w/x"],"arquivosCorrigidos":["/w/y"]}"""
        .stripMargin.replace("\n", ""),
      """{"not":"a manifest line"}""", // externally corrupt: dropped
      """{"arquivo":"B.zip","url":""", // truncated: dropped
      // a null count: unknown, so the load rescans that file
      """{"arquivo":"C.zip","registrosCorrigidos":[3,null]}"""
    ).mkString("\n").getBytes(StandardCharsets.UTF_8))
    val loaded = Manifest.load(p.toString)
    assert(loaded.map(_.arquivo) === Seq("A.zip", "C.zip"), loaded.toString)
    val e = loaded.head
    assert(e.arquivo === "A.zip" && e.statusCarga === Status.Sucesso)
    assert(e.tentativasDownload === 0 && e.registrosCarregados === -1L)
    assert(e.tabelasDestino === Nil && e.arquivosCorrigidos === Seq("/w/y"))
    assert(loaded(1).registrosCorrigidos === Seq(3L, -1L))
  }

  test("intra-archive duplicate DOTLESS basenames still route (subdir, not prefix)") {
    // r11 review: the old m0_NAME prefix left dotted names routable but
    // mangled dotless ones (m0_SIMPLES has no dot suffix to survive) —
    // both duplicates went ignorada and their rows silently never loaded
    val (src, work, out) = freshDirs()
    val zip = src.resolve("Simples.zip")
    val zos = new ZipOutputStream(new FileOutputStream(zip.toFile))
    try {
      zos.putNextEntry(new ZipEntry("a/SIMPLES"))
      zos.write("11111111;S\n".getBytes(StandardCharsets.UTF_8))
      zos.closeEntry()
      zos.putNextEntry(new ZipEntry("b/SIMPLES"))
      zos.write("22222222;N\n33333333;S\n".getBytes(StandardCharsets.UTF_8))
      zos.closeEntry()
    } finally zos.close()
    Files.write(src.resolve("listing.html"),
      listingHtml(Seq("Simples.zip")).getBytes(StandardCharsets.UTF_8))
    val pipe = new RfbPipeline(spark, work, out.toString, "202601",
      new LocalFetcher(src), backoffMs = 0L)
    val done = pipe.run("file://rfb/")
    assert(done.head.statusCarga == Status.Sucesso, done.head.toString)
    assert(spark.read.parquet(s"$out/rfb_simples").count() === 3,
      "both duplicate dotless members must load")
  }

  test("resumed load rebuilds a table from ALL contributors, not just the late zip") {
    // r11 review: the resume path grouped a table's overwrite from only
    // the still-pendente entries — a month where nine zips loaded and one
    // self-healed late REPLACED the table with the late zip's rows alone,
    // with a green audit (expected = the late zip's counts). The rebuild
    // must union every corrected contributor.
    val (src, work, out) = freshDirs()
    mkZip(src, "Paises1.zip", Seq(
      "K1.D509.PAIS" -> "105;Brasil\n013;Argentina\n"
        .getBytes(StandardCharsets.UTF_8)))
    Files.write(src.resolve("Paises2.zip"),
      "this is not a zip file".getBytes(StandardCharsets.UTF_8))
    Files.write(src.resolve("listing.html"),
      listingHtml(Seq("Paises1.zip", "Paises2.zip"))
        .getBytes(StandardCharsets.UTF_8))
    val pipe = new RfbPipeline(spark, work, out.toString, "202601",
      new LocalFetcher(src), backoffMs = 0L)
    val r1 = pipe.run("file://rfb/")
    val (ok1, bad1) = (r1.find(_.arquivo == "Paises1.zip").get,
      r1.find(_.arquivo == "Paises2.zip").get)
    assert(ok1.statusCarga == Status.Sucesso)
    assert(bad1.statusDownload == Status.Pendente) // corrupt-zip self-heal
    assert(spark.read.parquet(s"$out/rfb_paises").count() == 2)

    // upstream fixes the second archive; the resumed run must load BOTH
    // zips' rows into the rebuilt table
    mkZip(src, "Paises2.zip", Seq(
      "K1.D510.PAIS" -> "639;Uruguai\n".getBytes(StandardCharsets.UTF_8)))
    val pipe2 = new RfbPipeline(spark, work, out.toString, "202601",
      new LocalFetcher(src), backoffMs = 0L)
    val r2 = pipe2.run("file://rfb/")
    assert(r2.find(_.arquivo == "Paises2.zip").get.statusCarga == Status.Sucesso)
    val rows = spark.read.parquet(s"$out/rfb_paises")
    assert(rows.count() == 3, "resume must keep the first zip's rows")
    assert(rows.collect().map(_.getString(0)).toSet ==
      Set("105", "013", "639"))
  }

  test("download retry: transient failures retried within a run (main.py:85-96)") {
    val (src, work, out) = freshDirs()
    mkZip(src, "Motivos.zip", Seq(
      "K1.D509.MOTIV" -> "00;Sem motivo\n".getBytes(StandardCharsets.UTF_8)))
    Files.write(src.resolve("listing.html"),
      listingHtml(Seq("Motivos.zip")).getBytes(StandardCharsets.UTF_8))

    // two injected failures < 3 attempts → succeeds
    val pipe = new RfbPipeline(spark, work, out.toString, "202601",
      new LocalFetcher(src, failFirst = Map("Motivos.zip" -> 2)), backoffMs = 0L)
    val done = pipe.run("file://rfb/")
    assert(done.head.statusCarga == Status.Sucesso)
  }

  test("concurrent download+extract: many files, mixed failures, " +
    "manifest lands consistent") {
    val (src, work, out) = freshDirs()
    val tables = Seq("MOTIV", "MUNIC", "PAIS", "NATJU", "QUALS", "CNAECSV")
    val zips = tables.zipWithIndex.map { case (t, i) =>
      val name = s"Z$i.zip"
      mkZip(src, name, Seq(
        s"K$i.D509.$t" -> s"0$i;registro $i\n".getBytes(StandardCharsets.UTF_8)))
      name
    } :+ "Dead.zip" // never downloadable
    mkZip(src, "Dead.zip", Seq(
      "K9.D509.MOTIV" -> "09;x\n".getBytes(StandardCharsets.UTF_8)))
    Files.write(src.resolve("listing.html"),
      listingHtml(zips).getBytes(StandardCharsets.UTF_8))

    val pipe = new RfbPipeline(spark, work, out.toString, "202601",
      new LocalFetcher(src, failFirst = Map(
        "Z1.zip" -> 2,              // transient, retried within the run
        "Dead.zip" -> Int.MaxValue)), // permanent
      backoffMs = 0L, ioParallelism = 4)
    val done = pipe.run("file://rfb/")
    val byName = done.map(e => e.arquivo -> e).toMap
    tables.indices.foreach { i =>
      assert(byName(s"Z$i.zip").statusCarga == Status.Sucesso, s"Z$i.zip")
    }
    assert(byName("Dead.zip").statusDownload == Status.Falhou)
    assert(byName("Dead.zip").tentativasDownload == 1)
    // persisted manifest agrees with the in-memory result
    val persisted = Manifest.load(pipe.manifestPath)
      .map(e => e.arquivo -> e.statusCarga).toMap
    assert(persisted == done.map(e => e.arquivo -> e.statusCarga).toMap)
  }

  test("download failure after max retries → falhou + attempt counted") {
    val (src, work, out) = freshDirs()
    mkZip(src, "Motivos.zip", Seq(
      "K1.D509.MOTIV" -> "00;Sem motivo\n".getBytes(StandardCharsets.UTF_8)))
    Files.write(src.resolve("listing.html"),
      listingHtml(Seq("Motivos.zip")).getBytes(StandardCharsets.UTF_8))

    val pipe = new RfbPipeline(spark, work, out.toString, "202601",
      new LocalFetcher(src, failFirst = Map("Motivos.zip" -> 99)), backoffMs = 0L)
    val done = pipe.run("file://rfb/")
    assert(done.head.statusDownload == Status.Falhou)
    assert(done.head.tentativasDownload == 1)
    assert(done.head.statusCarga == Status.Pendente)
  }

  test("resume: completed entries are never reprocessed (main.py:51-53,82)") {
    val (src, work, out) = freshDirs()
    mkZip(src, "Paises.zip", Seq(
      "K1.D509.PAIS" -> "105;Brasil\n".getBytes(StandardCharsets.UTF_8)))
    Files.write(src.resolve("listing.html"),
      listingHtml(Seq("Paises.zip")).getBytes(StandardCharsets.UTF_8))

    val pipe = new RfbPipeline(spark, work, out.toString, "202601",
      new LocalFetcher(src), backoffMs = 0L)
    val r1 = pipe.run("file://rfb/")
    assert(r1.head.statusCarga == Status.Sucesso)

    // corrupt the upstream source; a resumed run must not touch it
    Files.write(src.resolve("Paises.zip"), "garbage".getBytes)
    val pipe2 = new RfbPipeline(spark, work, out.toString, "202601",
      new LocalFetcher(src), backoffMs = 0L)
    val r2 = pipe2.run("file://rfb/")
    assert(r2.head.statusCarga == Status.Sucesso)
    assert(spark.read.parquet(s"$out/rfb_paises").count() == 1)
  }

  test("two zips routing to one table both land (reference clobbers, we don't)") {
    val (src, work, out) = freshDirs()
    // the real dump ships Empresas0..9.zip all routing to rfb_empresas; the
    // reference's per-file TRUNCATE keeps only the last one (main.py:200)
    mkZip(src, "Empresas0.zip", Seq(
      "K1.E0.D509.EMPRECSV" ->
        "11111111;ACME;2062;49;100,00;03;\n".getBytes(StandardCharsets.UTF_8)))
    mkZip(src, "Empresas1.zip", Seq(
      "K1.E1.D509.EMPRECSV" ->
        "22222222;BETA;2046;05;200,00;05;\n".getBytes(StandardCharsets.UTF_8)))
    Files.write(src.resolve("listing.html"),
      listingHtml(Seq("Empresas0.zip", "Empresas1.zip"))
        .getBytes(StandardCharsets.UTF_8))

    val pipe = new RfbPipeline(spark, work, out.toString, "202601",
      new LocalFetcher(src), backoffMs = 0L)
    val done = pipe.run("file://rfb/")
    assert(done.forall(_.statusCarga == Status.Sucesso))
    val empresas = spark.read.parquet(s"$out/rfb_empresas").collect()
    assert(empresas.map(_.getString(0)).toSet == Set("11111111", "22222222"))
  }

  test("manifest round-trips through JSON (main.py:29-37)") {
    val p = Files.createTempDirectory("mani").resolve("manifesto.json")
    val entries = Seq(
      ManifestEntry("A.zip", "u/A.zip", statusDownload = Status.Sucesso,
        arquivosExtraidos = Seq("/tmp/x"), linhasOriginais = 7,
        tabelasDestino = Seq("rfb_cnaes")),
      ManifestEntry("B — ação;\"quoted\".zip", "u/B.zip"))
    Manifest.save(p.toString, entries)
    // the manifest is a driver-local file: reading it launches no job
    val (loaded, jobs) = graft.ReadJobs.jobsDuring(Manifest.load(p.toString))
    assert(loaded.toSet == entries.toSet)
    assert(jobs === 0)
    // non-ASCII workDir (the lake's own folder names are pt-BR, "Março")
    val p2 = Files.createTempDirectory("mani-Março")
      .resolve("manifesto.json")
    Manifest.save(p2.toString, entries)
    assert(Manifest.load(p2.toString).toSet == entries.toSet)
  }

  test("listing parser keeps only .zip anchors (main.py:61-64)") {
    val pipe = new RfbPipeline(spark, Files.createTempDirectory("w"),
      "/tmp/o", "202601", new LocalFetcher(Files.createTempDirectory("s")))
    val html = listingHtml(Seq("Empresas0.zip", "Socios1.zip"))
    assert(pipe.parseListing(html) == Seq("Empresas0.zip", "Socios1.zip"))
  }
}
