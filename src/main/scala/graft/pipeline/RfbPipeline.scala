package graft.pipeline

import java.nio.file.{Files, Path, Paths}
import java.util.zip.{ZipException, ZipFile}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.FilePartition

object RfbPipeline {
  /** `.zip` anchors from a directory-listing page (reference
    * `main.py:61-64`).
    */
  def parseListing(html: String): Seq[String] =
    "href=\"([^\"]+?\\.zip)\"".r.findAllMatchIn(html).map(_.group(1))
      .filterNot(_.contains("/")).distinct.toSeq
}

/** Final-report shape (reference `relatorio_final`, `main.py:222-237`). */
case class PipelineReport(
    sucesso: Long,
    falhasOuPendentes: Long,
    failed: Seq[ManifestEntry])

/** The RFB monthly-snapshot ingestion pipeline, Spark-first
  * (SURVEY §2.1, §3.1): discover → download → extract → fix → load → report,
  * with the manifest as the per-file state machine persisted after every
  * transition (reference `main.py:103,120,162,220`) so any crash resumes
  * exactly where it stopped; stage filters skip non-`pendente` work
  * (`main.py:82,108,125,183`).
  *
  * Stage semantics preserved from the reference:
  *  - download: ≤3 attempts, fixed backoff (`main.py:85-96`); failure counts
  *    attempts and marks `falhou`.
  *  - extract: corrupt zip self-heals by resetting download to `pendente`
  *    (`main.py:116-119`).
  *  - fix: per-file charset detect on a 100 KB sample, transcode to UTF-8
  *    replace-don't-fail, line-count equality gates success
  *    (`main.py:134-158`).
  *  - load: route by filename suffix (`main.py:166-194`), full refresh,
  *    count audit gates success (`main.py:198-216`); unroutable → `ignorada`.
  *
  * Deliberate divergences (SURVEY §3.3, §0.1), all documented:
  *  - ALL files of a multi-entry zip are processed, not just the first.
  *  - Loads are grouped per destination table and written once as an atomic
  *    overwrite — the reference TRUNCATEs per file, so with the real dump
  *    (10 zips → one table) it silently keeps only the last zip's rows, and
  *    a failed load leaves a truncated table behind.
  *  - Default sink is parquet partitioned by snapshot (`ref_month=YYYYMM`
  *    directory per table) instead of a Postgres schema per month — same
  *    side-by-side time-travel layout (`main.py:177,258`), lake-native. The
  *    reference-parity relational path is [[JdbcSink]] (truncate-then-append
  *    into schema `rfb_YYYYMM`), injectable via the `sink0` parameter with
  *    identical audit semantics.
  *
  * Scale notes (100 TB): the manifest loop is driver-side over ~37 rows —
  * correct, it is metadata; all row-level work (CSV scan, parquet write,
  * counts) is distributed. Per-table scans list all corrected files in one
  * `csv(paths:_*)` read so Spark parallelizes by file/split, and write
  * tasks are sized by input bytes with Spark's own split rule; the table
  * groups run at once on a small driver pool.
  */
class RfbPipeline(
    spark: SparkSession,
    workDir: Path,
    outDir: String,
    refMonth: String,
    fetcher: Fetcher,
    maxRetries: Int = 3,
    backoffMs: Long = 5000L,
    strictAudits: Boolean = false,
    sink0: TableSink = null,
    ioParallelism: Int = 4) {

  /** Destination sink; parquet lake unless a [[TableSink]] (e.g. the
    * reference-parity [[JdbcSink]]) is injected.
    */
  val sink: TableSink = Option(sink0).getOrElse(new ParquetSink(outDir))

  /** Post-load integrity audits per table (README-claimed checks,
    * `READme.md:27-29`), recorded for the last `load` call. Only gate the
    * load when `strictAudits` is set — the reference's hard gate is the
    * row-count equality, and a single malformed row shouldn't fail a
    * 60M-row load by default.
    */
  @volatile var lastAudits: Map[String, Audits.AuditResult] = Map.empty

  /** Exception text per table whose load threw (last `load` call) — the
    * per-table catch converts failures to `falhou` statuses, and without
    * this record the root cause was discarded entirely (r15 review).
    */
  @volatile var lastLoadErrors: Map[String, String] = Map.empty

  // namespaced BY PERIOD: with one shared manifesto.json, a new month's
  // run against the same workDir found the previous month's completed
  // manifest, skipped the workspace wipe, saw every status sucesso, did
  // zero work and reported last month's success as this month's (r10
  // review). One manifest per refMonth makes "resume" mean resume THIS
  // period.
  val manifestPath: String =
    workDir.resolve(s"manifesto_$refMonth.json").toString
  private val downloadDir = workDir.resolve("downloads")
  private val extractDir = workDir.resolve("extracted")
  private val fixedDir = workDir.resolve("fixed")

  private def save(entries: Seq[ManifestEntry]): Unit =
    Manifest.save(manifestPath, entries)

  /** `fn` over `items` on a pool of at most `threads` threads made for
    * this call, results in `items` order. The threads start on the calling
    * thread, so they inherit its Spark local properties (job group,
    * description). The first failure stops the remaining work and waits
    * (best-effort: a task hung in un-interruptible IO can outlive the
    * window) so in-flight manifest writes and table swaps quiesce before
    * the caller unwinds; it rethrows the real cause, not the executor
    * wrapper.
    */
  private def onPool[A, B](items: Seq[A], threads: Int)(fn: A => B): Seq[B] = {
    if (items.isEmpty) return Nil
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(threads, items.size)))
    try {
      val futures = items.map(a =>
        pool.submit(new java.util.concurrent.Callable[B] {
          override def call(): B = fn(a)
        }))
      futures.map { f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            pool.shutdownNow()
            val quiesced = pool.awaitTermination(
              1, java.util.concurrent.TimeUnit.MINUTES)
            val cause = e.getCause
            if (!quiesced) cause.addSuppressed(new IllegalStateException(
              "pool did not quiesce within 60 s; a hung task may still " +
                "write the manifest or the sink"))
            throw cause
        }
      }
    } finally pool.shutdown()
  }

  /** Run `fn` over the pending indices on a bounded pool, folding each
    * result into the manifest (and persisting it) AS EACH FILE COMPLETES —
    * the reference's crash-resume granularity (`main.py:103,120`), kept
    * under concurrency by serializing the update+save step. Download and
    * extract are per-file-independent driver IO (network / local disk), so
    * a bounded pool is the right parallelism — Spark tasks would gain
    * nothing (the bytes must land on the driver's shared dirs anyway) and
    * would lose the per-file manifest transitions.
    */
  private def perFileParallel(
      entries0: Seq[ManifestEntry],
      pending: Seq[Int])(
      fn: ManifestEntry => ManifestEntry): Seq[ManifestEntry] = {
    @volatile var entries = entries0
    val lock = new Object
    onPool(pending, ioParallelism) { i =>
      val updated = fn(entries0(i))
      lock.synchronized {
        entries = entries.updated(i, updated)
        save(entries)
      }
    }
    entries
  }

  /** Phase 1 — discovery (reference `fase_planejamento`, `main.py:49-77`):
    * reuse an existing manifest (resume), else parse the listing for `.zip`
    * anchors and create pending entries.
    */
  def plan(listingUrl: String): Seq[ManifestEntry] = {
    if (Manifest.exists(manifestPath)) {
      // a zero-length or all-corrupt manifest loads as no entries; resuming
      // it would report the month complete with zero work, the same
      // silent outcome the empty-listing refusal below exists to stop
      val entries = Manifest.load(manifestPath)
      if (entries.isEmpty) throw new IllegalStateException(
        s"manifest $manifestPath holds no readable entries — refusing to " +
          "resume an empty month; delete it to re-plan from the listing")
      entries
    } else {
      val html = fetcher.fetchText(listingUrl)
      val entries = parseListing(html).map { name =>
        ManifestEntry(arquivo = name, url = listingUrl + name,
          caminhoZip = downloadDir.resolve(name).toString)
      }
      // REFUSE to persist an empty manifest: a maintenance/truncated page
      // (HTTP 200, zero .zip anchors — possible even milliseconds after
      // the Vigilante poll validated the listing) would otherwise mark
      // the period permanently complete-with-zero-work — every later run
      // "resumes" 0 entries and reports success until the manifest is
      // hand-deleted (r15 review). Throwing reaches Reporter.failed, the
      // alerting path a silently-empty month needs. Same loud-failure
      // stance as the zip source's empty-directory error.
      if (entries.isEmpty) throw new IllegalStateException(
        s"listing at $listingUrl contains no .zip anchors — refusing to " +
          "persist an empty manifest (maintenance page / truncated " +
          "response?); nothing was saved, the next run will re-fetch")
      save(entries)
      entries
    }
  }

  /** `.zip` anchors from a directory-listing page (reference `main.py:61-64`,
    * BeautifulSoup equivalent).
    */
  def parseListing(html: String): Seq[String] = RfbPipeline.parseListing(html)

  /** Phase 2 — download with retry (reference `main.py:79-103`), `ioParallelism`
    * files in flight at once (the reference fetches one-by-one; the retry
    * and backoff semantics per file are unchanged).
    */
  def download(entries0: Seq[ManifestEntry]): Seq[ManifestEntry] = {
    // A pending (re-)download always lands in THIS pipeline's own
    // downloads dir, whatever path the entry recorded: an adopted entry
    // can carry a path inside an un-adopted legacy dir (the rule-1
    // collision in RfbMain.migrateLegacyWorkspace), and re-fetching there
    // would resurrect a dir that rule 2 deletes on every later run — a
    // permanent delete/re-download cycle (r17, found spec-pinning the
    // collision leg). Completed entries keep their recorded path: the
    // file is wherever the manifest says it is.
    val entries = entries0.map { e =>
      if (e.statusDownload == Status.Pendente)
        e.copy(caminhoZip = downloadDir.resolve(e.arquivo).toString)
      else e
    }
    // the PHASE owns its directory, like extract() owns extractDir: the
    // Fetcher trait never promised to mkdir the destination's parent, and
    // a fetcher written to the trait doc alone burned every retry on
    // NoSuchFileException (both bundled fetchers happened to mkdirs,
    // masking the gap — r11 review). Pending entries only: re-creating a
    // COMPLETED entry's parent would resurrect deleted legacy dirs.
    val pending = entries.zipWithIndex
      .filter(_._1.statusDownload == Status.Pendente).map(_._2)
    pending.map(entries(_)).flatMap(e => Option(Paths.get(e.caminhoZip).getParent))
      .distinct.foreach(Files.createDirectories(_))
    perFileParallel(entries, pending) { e =>
      var ok = false
      var attempt = 0
      while (!ok && attempt < maxRetries) {
        attempt += 1
        try { fetcher.fetchFile(e.url, Paths.get(e.caminhoZip)); ok = true }
        catch { case _: Exception =>
          // no backoff after the FINAL attempt — nothing follows it (the
          // reference sleeps there too, but that is pure pool-thread idle)
          if (attempt < maxRetries && backoffMs > 0) Thread.sleep(backoffMs) }
      }
      if (ok) e.copy(statusDownload = Status.Sucesso)
      else e.copy(statusDownload = Status.Falhou,
        tentativasDownload = e.tentativasDownload + 1)
    }
  }

  /** Phase 3 — extraction with corrupt-zip self-heal (reference
    * `main.py:105-120`), `ioParallelism` archives at once (each archive's
    * members extract to distinct file names, so archives are independent).
    */
  def extract(entries0: Seq[ManifestEntry]): Seq[ManifestEntry] = {
    Files.createDirectories(extractDir)
    val pending = entries0.zipWithIndex.filter { case (e, _) =>
      e.statusDownload == Status.Sucesso && e.statusExtracao == Status.Pendente
    }.map(_._2)
    perFileParallel(entries0, pending) { e =>
      try {
        // Cp437 fallback charset, like Python's zipfile: the charset only
        // applies to member names WITHOUT the UTF-8 flag, so real UTF-8
        // names are unaffected — while the JDK default threw MALFORMED
        // IllegalArgumentException on any legal cp437-named member and
        // killed the whole phase (r10 review)
        val zf = new ZipFile(new java.io.File(e.caminhoZip),
          java.nio.charset.Charset.forName("Cp437"))
        try {
          // per-archive subdirectory: two archives may legally carry members
          // with the same basename; a shared flat dir would make concurrent
          // extraction race on one path (and sequential extraction silently
          // last-wins, like the reference)
          val archiveDir = extractDir.resolve(
            Paths.get(e.caminhoZip).getFileName.toString.stripSuffix(".zip"))
          Files.createDirectories(archiveDir)
          val names = zf.entries().asScala.filterNot(_.isDirectory).toSeq
          // intra-archive duplicate basenames (members in different zip
          // subdirs — the reference's extractall keeps the subdirs, so it
          // never collides) are disambiguated with a member-index
          // SUBDIRECTORY, keeping the basename byte-identical: last-wins
          // flattening would silently drop one member's rows and
          // double-load the survivor's with every count audit still
          // green, and the earlier name-prefix scheme (m0_NAME) broke
          // RfbTables.route for DOTLESS routable names — m0_SIMPLES has
          // no dot suffix to survive the mangling, so both duplicates
          // went ignorada (r11 review). The fix phase mirrors the path
          // RELATIVE to the extract root, so these nested subdirs cannot
          // collide with any archive's own dir there (r15 review: the
          // old one-level mirror collided with an archive literally
          // named "<archive>_m<idx>.zip").
          val basenames =
            names.map(ze => Paths.get(ze.getName).getFileName.toString)
          val dups = basenames.groupBy(identity)
            .collect { case (n, g) if g.size > 1 => n }.toSet
          val outPaths = names.zip(basenames).zipWithIndex.map {
            case ((ze, bn), idx) =>
              val dest =
                if (dups(bn)) {
                  val d = archiveDir.resolve(
                    s"${archiveDir.getFileName}_m$idx")
                  Files.createDirectories(d)
                  d.resolve(bn)
                } else archiveDir.resolve(bn)
              val in = zf.getInputStream(ze)
              try Files.copy(in, dest,
                java.nio.file.StandardCopyOption.REPLACE_EXISTING)
              finally in.close()
              dest.toString
          }
          e.copy(statusExtracao = Status.Sucesso, arquivosExtraidos = outPaths)
        } finally zf.close()
      } catch {
        case _: ZipException | _: IllegalArgumentException =>
          // Self-heal: corrupt archive (bad format, undecodable names) ⇒
          // force re-download next run. The reference marks extraction
          // `falhou` here (main.py:117), but its own extract phase only
          // picks up `pendente` entries — so its self-heal can never
          // complete. We reset BOTH stages to `pendente` so the resumed
          // run actually recovers.
          e.copy(statusExtracao = Status.Pendente,
            statusDownload = Status.Pendente)
        case _: java.nio.file.NoSuchFileException |
            _: java.io.FileNotFoundException =>
          // the zip itself VANISHED (workspace cleanup, disk eviction):
          // that is precisely what re-downloading fixes, and the r10
          // IOException→Falhou hardening below was accidentally marking
          // it terminal — the one IOException the self-heal exists for
          // (r15 review)
          e.copy(statusExtracao = Status.Pendente,
            statusDownload = Status.Pendente)
        case _: java.io.IOException =>
          // any OTHER local I/O failure (disk full, permissions) is not
          // archive corruption: re-downloading a good zip can't fix it,
          // and the old blanket reset looped re-download → same error
          // forever with no terminal state recorded (r10 review)
          e.copy(statusExtracao = Status.Falhou)
      }
    }
  }

  /** Phase 4 — charset fix + line-count validation (reference
    * `main.py:122-162`); processes ALL extracted files of the entry.
    *
    * Scale split (SURVEY §1.3): charset DETECTION stays on the driver — it
    * reads only a 100 KB sample per file (metadata-scale, like the manifest
    * itself) — but the byte-level TRANSCODE of every file runs as one Spark
    * job with a task per file, so full file bytes never funnel through the
    * driver JVM (the round-1 formulation transcoded file-by-file on the
    * driver — the ingestion scale-killer at 100 TB). Executors write the
    * corrected files to shared storage and return only (path, linesRead,
    * linesWritten, recordsWritten) metric tuples; the record counts become
    * the load's expected counts (`registrosCorrigidos`). JDK decoder
    * semantics (U+FFFD replace, BOM strip, universal newlines) are
    * preserved exactly because the same [[Charsets.transcode]] kernel
    * runs in the task; a `spark.read` text scan would split lines on '\n'
    * bytes only and change the line-count audit for CR-terminated files. Granularity is per file — the right
    * unit here because the RFB dump ships many mid-sized members; a single
    * monster file would call for a splittable binary-chunk variant.
    */
  def fix(entries0: Seq[ManifestEntry]): Seq[ManifestEntry] = {
    var entries = entries0
    val pending = entries0.zipWithIndex.filter { case (e, _) =>
      e.statusExtracao == Status.Sucesso && e.statusCorrecao == Status.Pendente
    }
    pending.foreach { case (e, i) =>
      if (e.arquivosExtraidos.isEmpty) {
        entries = entries.updated(i, e.copy(statusCorrecao = Status.Ignorada))
        save(entries)
      }
    }
    val work = pending.filter(_._1.arquivosExtraidos.nonEmpty)
    // driver: detect from 100 KB samples; plan (src, charset, dest) per file
    val specs = work.flatMap { case (e, i) =>
      e.arquivosExtraidos.map { f =>
        val src = Paths.get(f)
        val csName =
          try Charsets.detect(src).name
          catch { case _: Exception => "UTF-8" }
        val name = src.getFileName.toString
        val (base, ext) = name.lastIndexOf('.') match {
          case -1 => (name, "")
          case k => (name.substring(0, k), name.substring(k))
        }
        // mirror the extract layout RELATIVE to the extract root: members
        // of different archives may share basenames, and the transcode
        // tasks run concurrently — corrected files must not collide. The
        // old one-level mirror (parent dir name only) could still collide
        // across archives: X.zip's duplicate-member subdir X_m1 and an
        // archive literally named X_m1.zip both mapped to fixed/X_m1
        // (r15 review); the relative path keeps X/X_m1 and X_m1 distinct.
        // Files outside the extract root (spec fixtures) keep the
        // one-level fallback.
        val sub = Option(src.getParent) match {
          case Some(p) if p.startsWith(extractDir) =>
            extractDir.relativize(p).toString
          case Some(p) => p.getFileName.toString
          case None => "_"
        }
        (i, f, csName,
          fixedDir.resolve(sub).resolve(s"${base}__corrigido$ext").toString)
      }
    }
    // executors: transcode + count in one distributed pass, metrics only back
    val metrics: Map[(Int, String), (String, Long, Long, Long)] =
      if (specs.isEmpty) Map.empty
      else spark.sparkContext.parallelize(specs, specs.size).map {
        case (i, srcF, csName, destF) =>
          try {
            val (read, written, records) = Charsets.transcode(
              Paths.get(srcF), java.nio.charset.Charset.forName(csName),
              Paths.get(destF))
            ((i, srcF), (destF, read, written, records))
          } catch { // unreadable file → count mismatch → entry falhou
            case _: Exception => ((i, srcF), (destF, -1L, -2L, -1L))
          }
      }.collect().toMap
    work.foreach { case (e, i) =>
      val results = e.arquivosExtraidos.map(f => metrics((i, f)))
      val allOk = results.forall { case (_, o, c, _) => o == c && o != -1L }
      entries = entries.updated(i, e.copy(
        statusCorrecao = if (allOk) Status.Sucesso else Status.Falhou,
        arquivosCorrigidos = results.map(_._1),
        linhasOriginais = results.map(_._2).sum,
        linhasCorrigidas = results.map(_._3).sum,
        registrosCorrigidos = results.map(_._4)))
      save(entries)
    }
    entries
  }

  /** Phase 5 — load + count audit (reference `main.py:164-220`), grouped per
    * destination table with a single atomic overwrite per table.
    */
  def load(entries0: Seq[ManifestEntry]): Seq[ManifestEntry] = {
    lastLoadErrors = Map.empty
    lastAudits = Map.empty // "the LAST load call" — a resumed second load
    // must not report a stale audit for a table it never touched
    var entries = entries0
    val candidates = entries0.zipWithIndex.filter { case (e, _) =>
      e.statusCorrecao == Status.Sucesso && e.statusCarga == Status.Pendente
    }
    // EVERY corrected contributor, not only the pending ones: overwrite is
    // a FULL REFRESH of a (table, month), so a resumed run that rebuilt a
    // table from just the still-pendente entries REPLACED nine
    // already-loaded zips' rows with the one late zip's — silent data
    // loss with a green audit (expected = the late zip's counts), the
    // reference's last-writer-wins flaw reintroduced on the resume path
    // (r11 review). Tables with no pending contributor are not touched;
    // a rebuilt table whose earlier contributors' corrected files are
    // gone fails its CSV read LOUDLY (table → falhou), never silently.
    val contributors = entries0.zipWithIndex.filter { case (e, _) =>
      e.statusCorrecao == Status.Sucesso
    }
    val candIdx = candidates.map(_._2).toSet
    val routedAll = contributors.flatMap { case (e, i) =>
      e.arquivosCorrigidos.map(f => (i, f, RfbTables.route(f)))
    }
    // tables this run must (re)load = tables with >= 1 pending contributor
    val pendingTables: Set[String] =
      routedAll.filter(x => candIdx(x._1)).flatMap(_._3).toSet
    // Per-file expected counts. RECORD counts, not physical-line counts:
    // Spark's CSV reader skips fully-empty lines, so one blank line in a
    // corrected file made the audit fail a table whose data was fully
    // loaded — manifest contradicting the lake (r10 review; countLines
    // stays for the reference-parity linhas* telemetry). The fix pass
    // counted each corrected file it wrote when it re-read it from disk
    // (`registrosCorrigidos`), so the expectation still describes the file,
    // never the loaded frame, and a file changed after the fix fails the
    // audit. Only files without a recorded count (a manifest written
    // before the field existed) are counted here, on executors (one task
    // per file — same no-full-bytes-on-the-driver rule as the fix phase).
    // Routed FIRST: route() is a pure driver-side string op, so files no
    // table claims (layout/readme members) never cost a full-file scan;
    // contributors of untouched tables are never scanned either.
    val routable = routedAll
      .filter(_._3.exists(pendingTables)).map(_._2).distinct
    val recorded: Map[String, Long] = contributors.flatMap { case (e, _) =>
      if (e.registrosCorrigidos.size != e.arquivosCorrigidos.size) Nil
      else e.arquivosCorrigidos.zip(e.registrosCorrigidos).filter(_._2 >= 0)
    }.toMap
    val unrecorded = routable.filterNot(recorded.contains)
    val recordCounts: Map[String, Long] = recorded ++ (
      if (unrecorded.isEmpty) Map.empty
      else spark.sparkContext
        .parallelize(unrecorded, unrecorded.size)
        .map(f => f -> Charsets.countCsvRecords(
          Paths.get(f), java.nio.charset.StandardCharsets.UTF_8))
        .collect().toMap)
    // (entryIdx, correctedFile, table?, recordCount) — the PENDING entries'
    // per-file routing, for ignorada classification and per-entry status
    // propagation; unroutable files carry -1 (never read by table groups)
    val files = candidates.flatMap { case (e, i) =>
      e.arquivosCorrigidos.map { f =>
        (i, f, RfbTables.route(f), recordCounts.getOrElse(f, -1L))
      }
    }
    // unroutable-only entries → ignorada (reference main.py:192-194)
    candidates.foreach { case (e, i) =>
      val mine = files.filter(_._1 == i)
      if (mine.forall(_._3.isEmpty)) {
        entries = entries.updated(i, e.copy(statusCarga = Status.Ignorada))
        save(entries)
      } else {
        entries = entries.updated(i,
          e.copy(tabelasDestino = mine.flatMap(_._3).distinct))
      }
    }
    // table groups over ALL contributors (full refresh), restricted to
    // the tables this run actually owes a load
    val byTable = routedAll.collect {
      case (_, f, Some(t)) if pendingTables(t) =>
        (t, f, recordCounts.getOrElse(f, -1L))
    }.groupBy(_._1)
    val tables = byTable.keys.toSeq.sorted
    // the groups are independent atomic overwrites: running them at once
    // fills the slots one table's small write leaves idle, up to what the
    // sink allows (JDBC: one table at a time)
    val threads = math.min(spark.sparkContext.defaultParallelism,
      sink.concurrentOverwrites)
    val loads = tables.zip(onPool(tables, threads) { table =>
      val group = byTable(table)
      loadTable(table, group.map(_._2), group.map(_._3).sum)
    })
    lastAudits = loads.collect { case (t, Right((audit, _))) => t -> audit }.toMap
    lastLoadErrors = loads.collect { case (t, Left(error)) => t -> error }.toMap
    val tableOk = loads.map { case (t, r) => t -> r.exists(_._2) }.toMap
    // propagate per-table audit to contributing entries
    candidates.foreach { case (_, i) =>
      val e = entries(i)
      if (e.statusCarga == Status.Pendente) {
        val myTables = files.filter(_._1 == i).flatMap(_._3).distinct
        val allOk = myTables.nonEmpty && myTables.forall(t => tableOk(t))
        val myRows = files.filter(f => f._1 == i && f._3.isDefined).map(_._4).sum
        entries = entries.updated(i, e.copy(
          statusCarga = if (allOk) Status.Sucesso else Status.Falhou,
          registrosCarregados = if (allOk) myRows else -1L))
        save(entries)
      }
    }
    entries
  }

  /** Read every contributor's corrected file of `table`, overwrite the
    * table with the audit riding the write, and check the counts: the
    * audit and whether the count audit passed, or the error text. Any
    * failure is this table's alone, returned, never thrown.
    */
  private def loadTable(table: String, paths: Seq[String],
      expected: Long): Either[String, (Audits.AuditResult, Boolean)] = {
    try {
      // write tasks sized by bytes, not one per input file: the scan
      // charges each file spark.sql.files.openCostInBytes, so every small
      // corrected file became its own split and its own write task, each
      // paying fixed costs (Hadoop conf copies, parquet writer setup, file
      // creates). The split size is Spark's own rule over the raw bytes,
      // min(maxPartitionBytes, max(openCostInBytes, bytes / parallelism)),
      // so a small month writes one file per table while a large table
      // keeps about the scan's split count, the parse's parallelism
      // included (coalesce is narrow and never adds partitions).
      val bytes = paths.map(f => Files.size(Paths.get(f))).sum
      val split = FilePartition.maxSplitBytes(spark, bytes)
      val parts = math.max(1L, (bytes + split - 1) / split).toInt
      // arity from the routing layer's layout knowledge, NOT sniffed
      // from the first line of the first file: a blank/short first
      // line would shrink the schema for the WHOLE table and
      // PERMISSIVE mode would silently drop every extra column while
      // the line-count audit still passed (the reference's pandas
      // reader infers per file; the layout map is the stronger form)
      val nCols = RfbTables.typedColumns(table).size
      // paths qualified file:, as corrected files are written via
      // java.nio, so they live on a POSIX-visible mount by
      // construction — schemeless strings would resolve against
      // fs.defaultFS and miss every file on an HDFS-default cluster,
      // with the miss swallowed into a bare falhou below (r15
      // review). RAW path after the scheme, not java.net.URI's
      // percent-encoded form: Hadoop Path does not decode %XX, so a
      // pre-encoded URI breaks every non-ASCII member name
      // (Domicílio → Domic%C3%ADlio, file not found — caught by the
      // cp437 spec when this fix first used toUri)
      val df = spark.read
        .options(Map("sep" -> ";", "header" -> "false",
          "encoding" -> "UTF-8", "mode" -> "PERMISSIVE"))
        .schema(RfbTables.rawSchema(nCols))
        .csv(paths.map(f =>
          "file:" + Paths.get(f).toAbsolutePath.toString): _*)
        .coalesce(parts)
      // Single-pass write-side metrics (SURVEY §1.3: row-count audits →
      // observe()): the row count must agree with the corrected-file
      // record counts AND the rows the sink holds now (reference
      // main.py:207-216; the lake answers from its parquet footers,
      // no Spark job); integrity audits (null keys, column shift) ride
      // the same pass. Sinks whose write path can't surface observe()
      // metrics (JDBC) get audited on the read-back — still one scan.
      val (audit, loaded) =
        if (sink.observesWrites) {
          val (audited, auditObs) = Audits.observed(df, table)
          sink.overwrite(audited, table, refMonth)
          (Audits.result(table, auditObs),
            sink.loadedRows(spark, table, refMonth))
        } else {
          sink.overwrite(df, table, refMonth)
          val a = Audits.run(sink.readBack(spark, table, refMonth), table)
          (a, a.rows)
        }
      Right((audit, audit.rows == expected && loaded == expected &&
        (!strictAudits || audit.passed)))
    } catch {
      case e: Exception =>
        // the failure becomes a falhou status either way, but the
        // ACTUAL error (CommitConflict, AnalysisException, ...) must
        // not vanish — Reporter.failed only fires on run-level
        // crashes, so an operator debugging a per-table falhou had
        // zero root-cause signal (r15 review)
        System.err.println(s"load: table $table failed: $e")
        Left(e.toString)
    }
  }

  /** Final report (reference `relatorio_final`, `main.py:222-237`). */
  def report(entries: Seq[ManifestEntry]): PipelineReport = {
    val (ok, bad) = entries.partition(_.statusCarga == Status.Sucesso)
    PipelineReport(ok.size.toLong, bad.size.toLong, bad)
  }

  /** Full run: all phases in order (reference `main.py:272-279`). */
  def run(listingUrl: String): Seq[ManifestEntry] = {
    val planned = plan(listingUrl)
    val done = load(fix(extract(download(planned))))
    save(done)
    done
  }

  /** Typed view of a loaded raw table for THIS run's snapshot: public RFB
    * column names + real types ([[RfbTyped]]) over the positional
    * all-string layout (raw stays the source of truth). Reads through the
    * injected sink — a JDBC-sinked pipeline serves the view from the
    * database, not from a parquet dir that was never written.
    */
  def typedView(table: String): DataFrame =
    RfbTyped.typed(table, sink.readBack(spark, table, refMonth))
}
