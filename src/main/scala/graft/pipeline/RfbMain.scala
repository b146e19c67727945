package graft.pipeline

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Runnable pipeline entry point (reference `main.py:240-282`): resolve the
  * period, wait for the monthly publication, wipe the workspace when no
  * prior manifest exists, run all phases, print the final report.
  *
  * Differences from the reference, all deliberate:
  *  - year/month come from args or env (`RFB_YEAR`/`RFB_MONTH`), not an
  *    interactive `input()` — a cluster job has no stdin.
  *  - the pt-BR month folder comes from [[Period.folderName]] (JDK locale
  *    data), so no `locale.setlocale` system dependency (`main.py:248-252`).
  *  - the listing wait is [[Vigilante.awaitPublication]] — the reference's
  *    README-claimed monitor — with a single poll by default so a scheduled
  *    run behaves like the reference's one-shot fetch.
  */
object RfbMain {

  /** Wipe-if-no-manifest (reference `limpar_pastas_temporarias`,
    * `main.py:18-27`, called at `main.py:261-268`): a brand-new run for the
    * period starts from a clean workspace; an existing manifest means a
    * resumable run, whose partial downloads/extractions must survive.
    * Returns whether a wipe happened.
    */
  def cleanWorkspace(workDir: Path, manifestPath: String): Boolean = {
    if (Manifest.exists(manifestPath)) false
    else {
      Seq("downloads", "extracted", "fixed")
        .map(workDir.resolve)
        .filter(Files.exists(_))
        .foreach { dir =>
          // Files.walk holds directory handles until closed (its javadoc
          // mandates try-with-resources)
          val s = Files.walk(dir)
          try s.sorted(Comparator.reverseOrder[Path]())
            .forEach(p => Files.delete(p))
          finally s.close()
        }
      true
    }
  }

  /** One-time adoption of the pre-r15 SHARED workspace layout
    * (`workDir/{downloads,extracted,fixed}` + root-level
    * `manifesto_<refMonth>.json`), which the per-period namespacing
    * otherwise STRANDS: a crashed pre-upgrade run would never resume (the
    * fresh periodWork re-downloads the whole month) and its root-level
    * dirs would leak disk forever (r15 ADVICE).
    *
    * Rules, in order:
    *  1. THIS period's manifest at the root and none in periodWork →
    *     this period owns the shared dirs (the legacy wipe rule kept at
    *     most one period's files in them): MOVE manifest + dirs into
    *     periodWork, REWRITING the manifest's recorded absolute paths
    *     (caminhoZip / arquivosExtraidos / arquivosCorrigidos) from the
    *     old shared root to the namespace — adopted verbatim they would
    *     point at files this migration just moved, and "resume" would
    *     degrade to the vanished-zip self-heal (full re-download) or
    *     load failures. So the pre-upgrade crash resumes where it
    *     stopped. A dir whose target already exists (a post-upgrade run
    *     raced it) is left in place and reported — never merged blindly —
    *     and its entries' paths are NOT rewritten (only dirs actually
    *     moved are): this run still resumes from the legacy files in
    *     place, and the report states the consequence honestly — a
    *     FUTURE run deletes the now-ownerless dir via rule 2 and those
    *     entries re-download via the vanished-zip self-heal (r16 ADVICE:
    *     the old blanket rewrite silently degraded resume to re-download
    *     while the warning implied the dir was still protected).
    *  2. Legacy dirs with NO root manifest at all → orphaned
    *     unresumable state; DELETE (the legacy layout's own
    *     fresh-run wipe would have done the same on the next run).
    *  3. Legacy dirs owned by a DIFFERENT period's root manifest →
    *     untouched; that period's own next run migrates them via rule 1.
    * Before rules 2/3, root manifests whose period ALREADY has a
    * namespaced manifest are deleted as migration leftovers: a crash
    * between `Manifest.save(newManifest)` and the root-manifest delete in
    * rule 1 would otherwise leave a stale root copy that counts as
    * "ownership" forever, permanently locking rule 2 out of cleaning
    * genuinely orphaned dirs (r16 ADVICE).
    * Returns whether anything was moved or deleted.
    */
  def migrateLegacyWorkspace(workDir: Path, periodWork: Path,
      refMonth: String): Boolean = {
    val legacyDirs = Seq("downloads", "extracted", "fixed")
      .map(workDir.resolve).filter(Files.exists(_))
    val legacyManifest = workDir.resolve(s"manifesto_$refMonth.json")
    val newManifest = periodWork.resolve(s"manifesto_$refMonth.json")
    if (Files.exists(legacyManifest) && !Files.exists(newManifest)) {
      Files.createDirectories(periodWork)
      val movedNames = legacyDirs.flatMap { d =>
        val name = d.getFileName.toString
        val target = periodWork.resolve(name)
        if (Files.exists(target)) {
          System.err.println(
            s"[rfb] legacy workspace dir $d NOT adopted: $target already " +
              "exists (a namespaced run already started). Its entries keep " +
              "their legacy paths — COMPLETED stages stay readable in " +
              "place this run (pending downloads re-home to the namespace " +
              "regardless) — but once this manifest is adopted no root " +
              "manifest owns the dir: a future run will delete it as " +
              "orphaned and entries still depending on it will re-download " +
              "via the vanished-zip self-heal")
          None
        } else {
          Files.move(d, target) // same filesystem: an atomic rename
          Some(name)
        }
      }.toSet
      // path rewrite (see rule 1 in the doc): entries in an un-adopted
      // (COLLIDED) dir keep their legacy paths, which still resolve this
      // run — rewriting them would point at files that were never moved
      // and silently turn resume into re-download (r16 ADVICE). Every
      // other workspace-dir path follows the move to the namespace —
      // including dirs a PREVIOUS migration attempt moved before crashing
      // ahead of the manifest save (legacy dir gone, target populated):
      // on the rerun movedNames alone would miss them and strand the
      // entries on vanished legacy paths.
      val collided = legacyDirs.map(_.getFileName.toString).toSet -- movedNames
      val rewriteNames =
        Set("downloads", "extracted", "fixed") -- collided
      // component-wise Path matching, both sides absolutized+normalized:
      // the default CLI workDir is RELATIVE ("rfb_work") and the legacy
      // manifest recorded its paths verbatim — a raw string-prefix test
      // against workDir.toAbsolutePath matched none of them, so the whole
      // month silently degraded to re-download (r17 review; both runs
      // share the process CWD convention, so absolutizing is sound)
      val oldRootP = workDir.toAbsolutePath.normalize
      val newRootP = periodWork.toAbsolutePath.normalize
      def re(p: String): String = {
        val ap = Paths.get(p).toAbsolutePath.normalize
        if (rewriteNames.exists(n => ap.startsWith(oldRootP.resolve(n))))
          newRootP.resolve(oldRootP.relativize(ap)).toString
        else p
      }
      val entries = Manifest.load(legacyManifest.toString).map(e =>
        e.copy(caminhoZip = re(e.caminhoZip),
          arquivosExtraidos = e.arquivosExtraidos.map(re),
          arquivosCorrigidos = e.arquivosCorrigidos.map(re)))
      Manifest.save(newManifest.toString, entries) // atomic, like save()
      // deleteIfExists: a concurrent run's stale-manifest sweep may win the
      // delete between our save and here — losing that race is fine, dying
      // on it is not (and this call sits outside RfbMain.run's try, so an
      // exception here would skip Reporter.failed entirely — r17 review)
      Files.deleteIfExists(legacyManifest)
      true
    } else {
      // migration-leftover sweep (doc above): a root manifest whose period
      // already has a namespaced manifest is a stale copy from a crash
      // between save and delete — never live ownership. Deleted here so it
      // can't lock rule 2 out (and can't linger forever when no legacy
      // dirs remain at all). ONE listing serves both the sweep and the
      // rule-2/3 ownership decision: live owners = all root manifests
      // minus the stale set (a second listing had both a redundant scan
      // and a change-in-between window — r17 review).
      val rootManifests = {
        val s = Files.list(workDir)
        try s.iterator().asScala.filter { p =>
          val n = p.getFileName.toString
          n.startsWith("manifesto_") && n.endsWith(".json")
        }.toList finally s.close()
      }
      val stale = rootManifests.filter { p =>
        val n = p.getFileName.toString
        val period = n.stripPrefix("manifesto_").stripSuffix(".json")
        Files.exists(workDir.resolve(period).resolve(n))
      }
      stale.foreach { p =>
        System.err.println(s"[rfb] deleting stale root manifest $p: its " +
          "period already has a namespaced manifest (crash between " +
          "migration save and root delete)")
        // deleteIfExists: two concurrent sweeps may race on the same file
        Files.deleteIfExists(p)
      }
      val staleDeleted = stale.nonEmpty
      if (legacyDirs.isEmpty) staleDeleted
      else if (rootManifests.sizeIs > stale.size)
        staleDeleted // rule 3: another period's LIVE manifest owns them
      else {
        legacyDirs.foreach { dir =>
          val s = Files.walk(dir)
          try s.sorted(Comparator.reverseOrder[Path]())
            .forEach(p => Files.delete(p))
          finally s.close()
        }
        true
      }
    }
  }

  /** Destination lake root for a period — the reference's
    * `PASTA_RAIZ_DESTINO/{ano}/{M}. {MonthName}` layout (`main.py:257`).
    */
  def destDir(rootDir: Path, year: Int, month: Int): Path =
    rootDir.resolve(f"$year%04d").resolve(Period.folderName(year, month))

  /** Full orchestration, injectable for tests. Returns the final report,
    * or None when the publication never appeared within `maxPolls`
    * (the reference's "PROCESSO INTERROMPIDO" branch, `main.py:281-282`).
    */
  def run(
      spark: SparkSession,
      year: Int,
      month: Int,
      baseUrl: String,
      rootDir: Path,
      workDir: Path,
      fetcher: Fetcher,
      sink0: TableSink = null,
      maxPolls: Int = 1,
      pollIntervalMs: Long = 0L,
      strictAudits: Boolean = false,
      reporter: Reporter = StdoutReporter): Option[PipelineReport] = {
    val listingUrl = Period.listingUrl(baseUrl, year, month)
    val vigilante = new Vigilante(fetcher, pollIntervalMs)
    if (vigilante.awaitPublication(listingUrl, maxPolls).isEmpty) {
      reporter.interrupted(listingUrl)
      return None
    }

    val outDir = destDir(rootDir, year, month)
    Files.createDirectories(outDir)
    // workspace namespaced PER PERIOD: the RFB dump reuses the same
    // archive basenames every month, so two periods sharing one workDir
    // collide in downloads/ (month N+1 overwrites month N's zips), and
    // the fresh-period wipe — keyed to THIS period's manifest but deleting
    // the shared dirs — destroyed a crashed previous period's resumable
    // state (r15 review; the r10 per-period manifest fix stopped halfway).
    // A per-refMonth subdir makes both impossible by construction; the
    // wipe below now only ever touches this period's own namespace.
    val periodWork = workDir.resolve(Period.refMonth(year, month))
    // adopt (or clean) any pre-namespacing root-level workspace BEFORE the
    // fresh-run wipe decision reads the manifest (see the method doc)
    migrateLegacyWorkspace(workDir, periodWork, Period.refMonth(year, month))
    Files.createDirectories(periodWork)
    val pipe = new RfbPipeline(spark, periodWork, outDir.toString,
      Period.refMonth(year, month), fetcher, backoffMs = 5000L,
      strictAudits = strictAudits, sink0 = sink0)
    cleanWorkspace(periodWork, pipe.manifestPath)
    try {
      val entries = pipe.run(listingUrl)
      val report = pipe.report(entries)
      reporter.completed(report)
      Some(report)
    } catch {
      case scala.util.control.NonFatal(e) =>
        // exactly one Reporter hook per run — a crash must alert too
        reporter.failed(listingUrl, e)
        throw e
    }
  }

  /** Mirror of `relatorio_final` (`main.py:222-237`). */
  def printReport(report: PipelineReport): Unit = {
    println("\n--- RELATÓRIO FINAL DA EXECUÇÃO ---")
    println(s"Total de arquivos processados com sucesso: ${report.sucesso}")
    println(s"Total de arquivos com falha ou pendentes: ${report.falhasOuPendentes}")
    if (report.failed.nonEmpty) {
      println("\nArquivos que falharam ou não foram concluídos:")
      report.failed.foreach { e =>
        println(s"- ${e.arquivo}: Status [Download: ${e.statusDownload}, " +
          s"Extração: ${e.statusExtracao}, Correção: ${e.statusCorrecao}, " +
          s"Carga: ${e.statusCarga}]")
      }
    }
  }

  private def arg(args: Array[String], i: Int, env: String): Option[String] =
    args.lift(i).orElse(sys.env.get(env))

  /** `runMain graft.pipeline.RfbMain <year> <month> [rootDir] [workDir]`
    * (or env `RFB_YEAR`/`RFB_MONTH`/`RFB_ROOT`/`RFB_WORK`/`RFB_BASE_URL`).
    */
  def main(args: Array[String]): Unit = {
    val year = arg(args, 0, "RFB_YEAR").map(_.toInt)
      .getOrElse(sys.error("usage: RfbMain <year> <month> [rootDir] [workDir]"))
    val month = arg(args, 1, "RFB_MONTH").map(_.toInt)
      .getOrElse(sys.error("usage: RfbMain <year> <month> [rootDir] [workDir]"))
    require(month >= 1 && month <= 12, s"month out of range: $month")
    val rootDir = Paths.get(arg(args, 2, "RFB_ROOT").getOrElse("rfb_lake"))
    val workDir = Paths.get(arg(args, 3, "RFB_WORK").getOrElse("rfb_work"))
    // public RFB open-data listing root (reference main.py:55)
    val baseUrl = sys.env.getOrElse("RFB_BASE_URL",
      "https://arquivos.receitafederal.gov.br/dados/cnpj/dados_abertos_cnpj/")

    val spark = SparkSession.builder()
      .appName("rfb-pipeline")
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    // exit code computed inside try; sys.exit only AFTER spark.stop() —
    // System.exit doesn't unwind, so calling it inside try would skip the
    // finally and leave Spark to its shutdown-hook race
    val exitCode =
      try {
        println("--- INICIANDO PIPELINE DE ETL DA RECEITA FEDERAL ---")
        // run() itself drives the Reporter hook (StdoutReporter prints the
        // reference's final report on both outcomes)
        run(spark, year, month, baseUrl, rootDir, workDir,
          new HttpFetcher()) match {
          case Some(report) => if (report.falhasOuPendentes > 0) 1 else 0
          case None => 2
        }
      } finally spark.stop()
    if (exitCode != 0) sys.exit(exitCode)
  }
}
