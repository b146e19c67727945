package graft.pipeline

import java.io.FileOutputStream
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** End-to-end entry point (reference `main.py:240-282`): period resolution,
  * publication wait, wipe-if-no-manifest, all phases, report.
  */
class RfbMainSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def mkZip(dir: Path, zipName: String,
      files: Seq[(String, Array[Byte])]): Unit = {
    val z = new ZipOutputStream(new FileOutputStream(dir.resolve(zipName).toFile))
    try files.foreach { case (name, bytes) =>
      z.putNextEntry(new ZipEntry(name)); z.write(bytes); z.closeEntry()
    } finally z.close()
  }

  private def writeListing(src: Path, zips: Seq[String]): Unit =
    Files.write(src.resolve("listing.html"),
      ("<html><body>" +
        zips.map(z => s"""<a href="$z">$z</a>""").mkString +
        "</body></html>").getBytes(StandardCharsets.UTF_8))

  test("end-to-end run: destination layout, report, loaded table") {
    val src = Files.createTempDirectory("rfb-src")
    val root = Files.createTempDirectory("rfb-root")
    val work = Files.createTempDirectory("rfb-work")
    mkZip(src, "Paises.zip", Seq(
      "K1.D509.PAIS" -> "105;Brasil\n160;Espanha\n".getBytes(StandardCharsets.UTF_8)))
    writeListing(src, Seq("Paises.zip"))

    val report = RfbMain.run(spark, 2026, 1, "http://rfb/", root, work,
      new LocalFetcher(src)).get
    assert(report.sucesso === 1)
    assert(report.falhasOuPendentes === 0)

    // reference destination layout: root/{year}/{M}. {MonthName-pt}
    val dest = RfbMain.destDir(root, 2026, 1)
    assert(dest.endsWith("2026/1. Janeiro"))
    val loaded = spark.read.parquet(s"$dest/rfb_paises").collect()
    assert(loaded.length === 2)
  }

  test("end-to-end run into the JDBC sink (reference deployment shape)") {
    val src = Files.createTempDirectory("rfb-src")
    val root = Files.createTempDirectory("rfb-root")
    val work = Files.createTempDirectory("rfb-work")
    mkZip(src, "Motivos.zip", Seq(
      "K1.D509.MOTIV" -> "00;Sem motivo\n01;Extinção\n".getBytes(StandardCharsets.UTF_8)))
    writeListing(src, Seq("Motivos.zip"))

    val dbDir = Files.createTempDirectory("rfb-derby")
    Files.delete(dbDir)
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    val sink = new JdbcSink(s"jdbc:derby:$dbDir;create=true", props)

    val report = RfbMain.run(spark, 2026, 3, "http://rfb/", root, work,
      new LocalFetcher(src), sink0 = sink).get
    assert(report.sucesso === 1)
    assert(sink.readBack(spark, "rfb_motivos", "202603").count() === 2)
  }

  test("publication absent: report is None (PROCESSO INTERROMPIDO)") {
    val src = Files.createTempDirectory("rfb-src") // no listing.html
    val root = Files.createTempDirectory("rfb-root")
    val work = Files.createTempDirectory("rfb-work")
    assert(RfbMain.run(spark, 2026, 2, "http://rfb/", root, work,
      new LocalFetcher(src), maxPolls = 3).isEmpty)
  }

  /** Records which hook fired (READme.md:32-34 alert contract). */
  private class RecordingReporter extends Reporter {
    var completedWith: Option[PipelineReport] = None
    var interruptedWith: Option[String] = None
    var failedWith: Option[Throwable] = None
    override def completed(report: PipelineReport): Unit =
      completedWith = Some(report)
    override def interrupted(listingUrl: String): Unit =
      interruptedWith = Some(listingUrl)
    override def failed(listingUrl: String, error: Throwable): Unit =
      failedWith = Some(error)
  }

  test("reporter hook fires with the final report on completion") {
    val src = Files.createTempDirectory("rfb-src")
    val root = Files.createTempDirectory("rfb-root")
    val work = Files.createTempDirectory("rfb-work")
    mkZip(src, "Quals.zip", Seq(
      "K1.D509.QUALS" -> "05;Administrador\n".getBytes(StandardCharsets.UTF_8)))
    writeListing(src, Seq("Quals.zip"))

    val rep = new RecordingReporter
    val out = RfbMain.run(spark, 2026, 4, "http://rfb/", root, work,
      new LocalFetcher(src), reporter = rep)
    assert(rep.completedWith === out) // the hook got exactly the final report
    assert(rep.completedWith.get.sucesso === 1)
    assert(rep.interruptedWith.isEmpty)
  }

  test("reporter hook fires on the interrupted path with the listing url") {
    val src = Files.createTempDirectory("rfb-src") // no listing.html
    val root = Files.createTempDirectory("rfb-root")
    val work = Files.createTempDirectory("rfb-work")
    val rep = new RecordingReporter
    assert(RfbMain.run(spark, 2026, 5, "http://rfb/", root, work,
      new LocalFetcher(src), reporter = rep).isEmpty)
    assert(rep.completedWith.isEmpty)
    assert(rep.interruptedWith.exists(_.startsWith("http://rfb/")))
  }

  test("fresh period wipes stale workspace dirs (main.py:261-268)") {
    val work = Files.createTempDirectory("rfb-work")
    val stale = work.resolve("downloads").resolve("old.zip")
    Files.createDirectories(stale.getParent)
    Files.write(stale, Array[Byte](1, 2, 3))
    val wiped = RfbMain.cleanWorkspace(work,
      work.resolve("manifesto.json").toString)
    assert(wiped)
    assert(!Files.exists(stale))
  }

  test("reporter hook fires when the run DIES (exactly one hook per run)") {
    // the publication poll succeeds, then the pipeline's own listing
    // re-fetch explodes: the crash must reach the Reporter (the old code
    // alerted on success and on no-publication, but never on the hardest
    // failures — r10 review)
    val src = Files.createTempDirectory("rfb-src")
    val root = Files.createTempDirectory("rfb-root")
    val work = Files.createTempDirectory("rfb-work")
    writeListing(src, Seq("Paises.zip"))
    val flaky = new Fetcher {
      private var calls = 0
      private val inner = new LocalFetcher(src)
      override def fetchText(url: String): String = {
        calls += 1
        if (calls > 1) throw new RuntimeException("listing vanished")
        inner.fetchText(url)
      }
      override def fetchFile(url: String, dest: Path): Unit =
        inner.fetchFile(url, dest)
    }
    val rep = new RecordingReporter
    val e = intercept[RuntimeException] {
      RfbMain.run(spark, 2026, 6, "http://rfb/", root, work, flaky,
        reporter = rep)
    }
    assert(rep.failedWith.contains(e))
    assert(rep.completedWith.isEmpty && rep.interruptedWith.isEmpty)
  }

  test("a manifest with no entries is refused and reaches Reporter.failed") {
    // a zero-length or all-corrupt manifest loads as no entries: resuming
    // it reported the month complete with zero work and no alert, where
    // an empty listing is refused loudly
    val src = Files.createTempDirectory("rfb-src")
    val root = Files.createTempDirectory("rfb-root")
    val work = Files.createTempDirectory("rfb-work")
    mkZip(src, "Paises.zip", Seq(
      "K1.D509.PAIS" -> "105;Brasil\n".getBytes(StandardCharsets.UTF_8)))
    writeListing(src, Seq("Paises.zip"))
    Seq(9 -> "", 10 -> "{\"not\":\"a manifest line\"}\n{\"arquivo\":")
      .foreach { case (month, body) =>
        val manifest = work.resolve(f"2026$month%02d")
          .resolve(f"manifesto_2026$month%02d.json")
        Files.createDirectories(manifest.getParent)
        Files.write(manifest, body.getBytes(StandardCharsets.UTF_8))
        val rep = new RecordingReporter
        val e = intercept[IllegalStateException] {
          RfbMain.run(spark, 2026, month, "http://rfb/", root, work,
            new LocalFetcher(src), reporter = rep)
        }
        assert(e.getMessage.contains("no readable entries"), e.getMessage)
        assert(rep.failedWith.contains(e), s"month $month")
        assert(rep.completedWith.isEmpty)
      }
  }

  test("a NEW period never resumes the previous period's manifest") {
    // one shared manifesto.json made month N+1 find month N's completed
    // manifest, skip the wipe, see every status sucesso and do ZERO work
    // while reporting success (r10 review); per-period names fix it
    val src = Files.createTempDirectory("rfb-src")
    val root = Files.createTempDirectory("rfb-root")
    val work = Files.createTempDirectory("rfb-work")
    mkZip(src, "Paises.zip", Seq(
      "K1.D509.PAIS" -> "105;Brasil\n".getBytes(StandardCharsets.UTF_8)))
    writeListing(src, Seq("Paises.zip"))
    val first = RfbMain.run(spark, 2026, 7, "http://rfb/", root, work,
      new LocalFetcher(src)).get
    assert(first.sucesso === 1)
    // same workDir, next month: must do its own full load, not no-op
    val second = RfbMain.run(spark, 2026, 8, "http://rfb/", root, work,
      new LocalFetcher(src)).get
    assert(second.sucesso === 1)
    val dest = RfbMain.destDir(root, 2026, 8)
    assert(spark.read.parquet(s"$dest/rfb_paises").count() === 1L)
    // per-period workspace namespacing (r15 review): month 8's fresh-period
    // wipe must only touch ITS OWN namespace — month 7's manifest and
    // downloaded zip survive, so a crashed month stays resumable after a
    // newer month runs (and same-named downloads never collide)
    assert(Files.exists(work.resolve("202607")
      .resolve("manifesto_202607.json")))
    assert(Files.exists(work.resolve("202607").resolve("downloads")
      .resolve("Paises.zip")))
    assert(Files.exists(work.resolve("202608")
      .resolve("manifesto_202608.json")))
  }

  test("legacy root-level workspace migrates into the period namespace") {
    // pre-r15 layout (shared workDir/{downloads,...} + root manifest):
    // owned by THIS period → adopted wholesale, so the pre-upgrade crash
    // resumes instead of re-downloading the month (r15 ADVICE)
    val work = Files.createTempDirectory("rfb-legacy1")
    val partial = work.resolve("downloads").resolve("partial.zip")
    Files.createDirectories(partial.getParent)
    Files.write(partial, Array[Byte](1, 2, 3))
    Manifest.save(work.resolve("manifesto_202607.json").toString,
      Seq(ManifestEntry(arquivo = "partial.zip", url = "http://x/partial.zip",
        caminhoZip = partial.toString)))
    val periodWork = work.resolve("202607")
    assert(RfbMain.migrateLegacyWorkspace(work, periodWork, "202607"))
    assert(Files.exists(periodWork.resolve("manifesto_202607.json")))
    assert(Files.exists(periodWork.resolve("downloads")
      .resolve("partial.zip")))
    assert(!Files.exists(work.resolve("downloads")))
    assert(!Files.exists(work.resolve("manifesto_202607.json")))
    // the adopted manifest's recorded ABSOLUTE paths are rewritten to the
    // namespace — verbatim they would point at the files just moved, and
    // resume would re-download (vanished-zip self-heal) instead of resuming
    val adopted = Manifest.load(
      periodWork.resolve("manifesto_202607.json").toString)
    assert(adopted.map(_.caminhoZip) ===
      Seq(periodWork.resolve("downloads").resolve("partial.zip").toString))
    // second call: nothing left to migrate
    assert(!RfbMain.migrateLegacyWorkspace(work, periodWork, "202607"))
  }

  test("orphaned legacy dirs (no root manifest) are cleaned; another period's are not") {
    // no root manifest at all → unresumable pre-upgrade leftovers; the
    // legacy layout's own fresh-run wipe would have deleted them, so the
    // migration does (otherwise they leak disk forever — r15 ADVICE)
    val work = Files.createTempDirectory("rfb-legacy2")
    Files.createDirectories(work.resolve("extracted").resolve("sub"))
    Files.write(work.resolve("extracted").resolve("sub").resolve("f.csv"),
      "x".getBytes(StandardCharsets.UTF_8))
    assert(RfbMain.migrateLegacyWorkspace(work,
      work.resolve("202608"), "202608"))
    assert(!Files.exists(work.resolve("extracted")))

    // a DIFFERENT period's root manifest still owns the shared dirs →
    // untouched here; that period's own next run adopts them via rule 1
    val work2 = Files.createTempDirectory("rfb-legacy3")
    Files.createDirectories(work2.resolve("downloads"))
    Manifest.save(work2.resolve("manifesto_202605.json").toString, Seq.empty)
    assert(!RfbMain.migrateLegacyWorkspace(work2,
      work2.resolve("202608"), "202608"))
    assert(Files.exists(work2.resolve("downloads")))
  }

  test("collided legacy dir: kept in place, paths NOT rewritten, then " +
      "orphan cleanup + re-download recovery") {
    // the rule-1 race (r16 verdict #3 + ADVICE): a namespaced run already
    // created periodWork/downloads when the legacy migration arrives. The
    // collided dir must be left in place (never merged), and the adopted
    // manifest's entries must KEEP their legacy paths — rewriting them
    // would point at files that were never moved and silently degrade
    // resume to re-download while the files still exist.
    val src = Files.createTempDirectory("rfb-src")
    val root = Files.createTempDirectory("rfb-root")
    val work = Files.createTempDirectory("rfb-coll")
    mkZip(src, "Paises.zip", Seq(
      "K1.D509.PAIS" -> "105;Brasil\n".getBytes(StandardCharsets.UTF_8)))
    writeListing(src, Seq("Paises.zip"))
    val legacyZip = work.resolve("downloads").resolve("Paises.zip")
    Files.createDirectories(legacyZip.getParent)
    mkZip(work.resolve("downloads"), "Paises.zip", Seq(
      "K1.D509.PAIS" -> "105;Brasil\n".getBytes(StandardCharsets.UTF_8)))
    Manifest.save(work.resolve("manifesto_202610.json").toString, Seq(
      ManifestEntry(arquivo = "Paises.zip", url = "http://rfb/Paises.zip",
        statusDownload = Status.Sucesso, caminhoZip = legacyZip.toString)))
    val periodWork = work.resolve("202610")
    Files.createDirectories(periodWork.resolve("downloads")) // the race

    assert(RfbMain.migrateLegacyWorkspace(work, periodWork, "202610"))
    assert(Files.exists(legacyZip), "collided dir must be left in place")
    val adopted = Manifest.load(
      periodWork.resolve("manifesto_202610.json").toString)
    // NOT rewritten: the file never moved, so the legacy path is the one
    // that still resolves (in-place resume stays possible this run)
    assert(adopted.map(_.caminhoZip) === Seq(legacyZip.toString))

    // next run: the legacy dir now has no root manifest (adopted above) →
    // rule 2 deletes it as orphaned, exactly as the migration warning
    // states. The entry's zip vanishes and the vanished-zip self-heal
    // resets it to pendente; the run after that re-downloads and loads.
    val r1 = RfbMain.run(spark, 2026, 10, "http://rfb/", root, work,
      new LocalFetcher(src)).get
    assert(!Files.exists(work.resolve("downloads")),
      "ownerless legacy dir must be cleaned by rule 2")
    assert(r1.falhasOuPendentes === 1, "vanished zip degrades, never loads garbage")
    val r2 = RfbMain.run(spark, 2026, 10, "http://rfb/", root, work,
      new LocalFetcher(src)).get
    assert(r2.sucesso === 1, "self-heal re-download must complete the entry")
    // the re-download RE-HOMES into the period namespace — fetched back to
    // the recorded legacy path it would resurrect a dir rule 2 deletes on
    // every later run, a permanent delete/re-download cycle
    assert(Files.exists(periodWork.resolve("downloads").resolve("Paises.zip")))
    assert(!Files.exists(work.resolve("downloads")))
    val dest = RfbMain.destDir(root, 2026, 10)
    assert(spark.read.parquet(s"$dest/rfb_paises").count() === 1L)
  }

  test("migration rerun after a crash between dir moves and manifest save " +
      "still rewrites the moved dirs' paths") {
    // crash window: a previous rule-1 attempt MOVED the legacy dirs into
    // the namespace, then died before Manifest.save — the rerun sees a
    // root manifest, no legacy dirs, and a populated target. Its paths
    // must still follow the (earlier) move: rewriting only this run's
    // moves would strand every entry on vanished legacy paths and degrade
    // the whole month to re-download.
    val work = Files.createTempDirectory("rfb-crashwin")
    val periodWork = work.resolve("202612")
    val movedZip = periodWork.resolve("downloads").resolve("partial.zip")
    Files.createDirectories(movedZip.getParent)
    Files.write(movedZip, Array[Byte](1, 2, 3))
    Manifest.save(work.resolve("manifesto_202612.json").toString, Seq(
      ManifestEntry(arquivo = "partial.zip", url = "http://x/partial.zip",
        statusDownload = Status.Sucesso,
        caminhoZip =
          work.resolve("downloads").resolve("partial.zip").toString)))

    assert(RfbMain.migrateLegacyWorkspace(work, periodWork, "202612"))
    val adopted = Manifest.load(
      periodWork.resolve("manifesto_202612.json").toString)
    assert(adopted.map(_.caminhoZip) === Seq(movedZip.toString),
      "rerun must rewrite to where the earlier attempt moved the files")
    assert(!Files.exists(work.resolve("manifesto_202612.json")))
  }

  test("legacy adoption rewrites RELATIVE recorded paths (the default CLI " +
      "workDir shape)") {
    // RfbMain.main defaults workDir to the relative "rfb_work", and the
    // legacy manifest recorded caminhoZip verbatim — so the pre-upgrade
    // entries hold RELATIVE strings. A string-prefix test against the
    // absolutized root matched none of them and silently degraded the
    // whole month to re-download (r17 review); the rewrite must compare
    // component-wise with both sides absolutized.
    val cwd = Paths.get("").toAbsolutePath
    val relWork = Paths.get("target").resolve(
      s"rfb-relwork-${System.nanoTime()}")
    try {
      val relZip = relWork.resolve("downloads").resolve("partial.zip")
      Files.createDirectories(cwd.resolve(relZip.getParent.toString))
      Files.write(cwd.resolve(relZip.toString), Array[Byte](1, 2, 3))
      Manifest.save(relWork.resolve("manifesto_202701.json").toString, Seq(
        ManifestEntry(arquivo = "partial.zip", url = "http://x/partial.zip",
          statusDownload = Status.Sucesso,
          caminhoZip = relZip.toString))) // RELATIVE, as recorded
      val periodWork = relWork.resolve("202701")
      assert(RfbMain.migrateLegacyWorkspace(relWork, periodWork, "202701"))
      val adopted = Manifest.load(
        periodWork.resolve("manifesto_202701.json").toString)
      val expected = periodWork.toAbsolutePath.normalize
        .resolve("downloads").resolve("partial.zip")
      assert(adopted.map(_.caminhoZip) === Seq(expected.toString),
        "relative legacy paths must follow the move into the namespace")
      assert(Files.exists(expected), "the file itself moved with the dir")
    } finally {
      val s = Files.walk(cwd.resolve(relWork.toString))
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally s.close()
    }
  }

  test("stale root manifest (crash between save and delete) is swept, not ownership") {
    // a crash between Manifest.save(newManifest) and the root-manifest
    // delete leaves a root copy whose period ALREADY has a namespaced
    // manifest; treated as ownership it locks rule 2 out forever and the
    // stale file is never cleaned (r16 ADVICE)
    val work = Files.createTempDirectory("rfb-stale")
    val periodWork = work.resolve("202611")
    Files.createDirectories(periodWork)
    Manifest.save(periodWork.resolve("manifesto_202611.json").toString,
      Seq.empty)
    Manifest.save(work.resolve("manifesto_202611.json").toString, Seq.empty)
    Files.createDirectories(work.resolve("downloads"))
    Files.write(work.resolve("downloads").resolve("junk.zip"),
      Array[Byte](1, 2, 3))

    assert(RfbMain.migrateLegacyWorkspace(work, periodWork, "202611"))
    assert(!Files.exists(work.resolve("manifesto_202611.json")),
      "stale root copy must be deleted")
    assert(Files.exists(periodWork.resolve("manifesto_202611.json")),
      "namespaced manifest untouched")
    assert(!Files.exists(work.resolve("downloads")),
      "rule 2 must not be locked out by the stale copy")

    // the sweep also fires when NO legacy dirs remain (the stale file
    // would otherwise linger forever), and is idempotent after that
    Manifest.save(work.resolve("manifesto_202611.json").toString, Seq.empty)
    assert(RfbMain.migrateLegacyWorkspace(work, periodWork, "202611"))
    assert(!Files.exists(work.resolve("manifesto_202611.json")))
    assert(!RfbMain.migrateLegacyWorkspace(work, periodWork, "202611"))
  }

  test("resumable period (manifest exists) keeps partial downloads") {
    val work = Files.createTempDirectory("rfb-work")
    val partial = work.resolve("downloads").resolve("partial.zip")
    Files.createDirectories(partial.getParent)
    Files.write(partial, Array[Byte](1, 2, 3))
    val manifestPath = work.resolve("manifesto.json").toString
    Manifest.save(manifestPath, Seq(ManifestEntry(
      arquivo = "partial.zip", url = "http://x/partial.zip",
      caminhoZip = partial.toString)))
    val wiped = RfbMain.cleanWorkspace(work, manifestPath)
    assert(!wiped)
    assert(Files.exists(partial))
  }
}
