package graft.tools

import java.io.{BufferedOutputStream, FileOutputStream, OutputStreamWriter}
import java.nio.charset.{Charset, StandardCharsets}
import java.nio.file.{Files, Path, Paths}
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{LocalFetcher, Manifest, ParquetSink, RfbPipeline, Status, TableSink}

/** 10× ingestion rehearsal harness (r11 order #1): synthesize a full RFB
  * month at ~50× the pipeline-bench "large" fixture (multi-GB raw), run the
  * REAL `RfbPipeline.run` against it, kill the JVM mid-load (deterministic
  * `Runtime.halt` — kill -9 semantics: no shutdown hooks, no flushes — or an
  * external `kill -9` aimed by the phase marker this main prints), resume,
  * and prove the resumed lake is content-equal to an uninterrupted control
  * run. Driven end-to-end by `tools/rehearse.sh`; findings in ROUND13.md.
  *
  * Subcommands (first arg):
  *  - `gen <srcDir> <rowsPerPart>` — deterministic month: 10 Empresas +
  *    10 Estabelecimentos (Latin-1, accents throughout) + 10 Socios parts
  *    at `rowsPerPart` rows each, one SMALL tail-accented Latin-1
  *    Estabelecimentos part (accents only in the last rows of a
  *    sub-100 KB file — the whole-file strict-UTF-8 rejection path, the
  *    r11 Charsets fix), a Simples zip with DUPLICATE member basenames in
  *    two zip subdirs (the member-index disambiguation path), dimension
  *    files in CP1252 (curly quotes), Latin-1, UTF-8+BOM, BOM-less
  *    UTF-16LE and UTF-16BE-with-BOM, and one corrupt archive (self-heal
  *    loop: re-download each run, never loads, never fails the rest).
  *  - `run <srcDir> <workDir> <outDir> [failFirst name:n,...]` — full
  *    pipeline; honors `REHEARSE_KILL_AFTER_TABLES=k` by halting the JVM
  *    the instant the k-th table overwrite returns.
  *  - `reset-download <manifestPath>` — operator retry: flip every
  *    `falhou` download back to `pendente` (the multi-contributor rebuild
  *    trigger — the resumed load must rebuild from ALL contributors, not
  *    just the late one; r11 wave-6 regression scenario).
  *  - `compare <outA> <outB> <refMonth>` — per-table row count +
  *    order-insensitive xxhash64 content hash over sink read-back; exits
  *    nonzero on any drift.
  */
object Rehearse {

  val RefMonth = "202601"

  /** All ten destination tables (every one is exercised by the fixture). */
  private val tables = graft.pipeline.RfbTables.routing.values.toSeq.sorted

  // ---------------------------------------------------------------- gen ---

  /** Write one zip; each member streams through the zip stream (members can
    * be hundreds of MB — never buffered whole, unlike the bench fixture).
    */
  private def zipStreamed(dir: Path, zipName: String,
      members: Seq[(String, Charset, Iterator[String])],
      prefixBom: Boolean = false): Unit = {
    val z = new ZipOutputStream(new BufferedOutputStream(
      new FileOutputStream(dir.resolve(zipName).toFile), 1 << 20))
    try members.foreach { case (name, cs, rows) =>
      z.putNextEntry(new ZipEntry(name))
      if (prefixBom) {
        if (cs == StandardCharsets.UTF_8)
          z.write(Array(0xEF, 0xBB, 0xBF).map(_.toByte))
        else if (cs == StandardCharsets.UTF_16BE)
          z.write(Array(0xFE, 0xFF).map(_.toByte))
        else if (cs == StandardCharsets.UTF_16LE)
          z.write(Array(0xFF, 0xFE).map(_.toByte))
      }
      val w = new OutputStreamWriter(z, cs)
      rows.foreach { r => w.write(r); w.write("\n") }
      w.flush() // flush the charset encoder; do NOT close (closes the zip)
      z.closeEntry()
    } finally z.close()
  }

  /** Deterministic month at `rowsPerPart` per big-table part. Returns
    * (zips, expected per-table row counts).
    */
  def gen(src: Path, rowsPerPart: Int): (Int, Map[String, Long]) = {
    Files.createDirectories(src)
    val R = rowsPerPart.toLong
    val zips = scala.collection.mutable.ArrayBuffer[String]()
    def add(zip: String, members: (String, Charset, Iterator[String])*)
        : Unit = { zipStreamed(src, zip, members); zips += zip }

    // 10 Empresas parts — UTF-8 (the multi-contributor rebuild target:
    // variant D fails part 9's download, then resumes it)
    for (p <- 0 until 10)
      add(s"Empresas$p.zip", (s"K3241.K03200Y$p.D60101.EMPRECSV",
        StandardCharsets.UTF_8,
        Iterator.range(0, rowsPerPart).map { i =>
          val id = p.toLong * rowsPerPart + i
          f"$id%08d;EMPRESA COMERCIAL LTDA $id;2046;49;1000,5$i;03;"
        }))
    // 10 Estabelecimentos parts — Latin-1 with accents from row 0 (the
    // normal in-sample detection path), ~170 B/row: the bulk of the bytes
    for (p <- 0 until 10)
      add(s"Estabelecimentos$p.zip", (s"K3241.K03200Y$p.D60101.ESTABELE",
        StandardCharsets.ISO_8859_1,
        Iterator.range(0, rowsPerPart).map { i =>
          val id = p.toLong * rowsPerPart + i
          f"$id%08d;0001;57;1;PADARIA SÃO JOÃO $id;02;20100312;00;;;" +
            "20050607;4712100;4721102,4729699;RUA;AÇAÍ;42;;CENTRO;" +
            "01310100;SP;7107;11;33334444;;;;;PADARIA@EXEMPLO.COM.BR;;"
        }))
    // 1 SMALL tail-accented Latin-1 part: pure ASCII until the last 5 rows,
    // total file < SampleBytes so detect() sees the WHOLE file and the
    // strict end-of-input UTF-8 decode must reject on the tail accent
    // (cutPossible=false leg of Charsets.isValidUtf8 — the r11 fix)
    val tailRows = 800
    add("Estabelecimentos10.zip", ("K3241.K03200YA.D60101.ESTABELE",
      StandardCharsets.ISO_8859_1,
      Iterator.range(0, tailRows).map { i =>
        val id = 10L * rowsPerPart + i
        val nome = if (i >= tailRows - 5) s"PADARIA SÃO JOÃO $id"
          else s"PADARIA SAO JOAO $id"
        f"$id%08d;0001;57;1;$nome;02;20100312;00;;;20050607;4712100;;" +
          "RUA;X;42;;CENTRO;01310100;SP;7107;11;33334444;;;;;A@B.BR;;"
      }))
    // 10 Socios parts — UTF-8
    for (p <- 0 until 10)
      add(s"Socios$p.zip", (s"K3241.K03200Y$p.D60101.SOCIOCSV",
        StandardCharsets.UTF_8,
        Iterator.range(0, rowsPerPart).map { i =>
          val id = p.toLong * rowsPerPart + i
          f"$id%08d;2;JOSÉ DA SILVA $id;***123456**;49;20150101;;;;00;4"
        }))
    // Simples — ONE zip, TWO members with the SAME dotless routable
    // basename in different zip subdirs (extract must disambiguate via
    // member-index subdirs and keep the basename routable; the flattening
    // alternative silently drops one member's rows with the audit green)
    val cut = rowsPerPart * 3 / 5
    add("Simples.zip",
      ("a/K3241.K03200Y0.D60101.SIMPLES", StandardCharsets.UTF_8,
        Iterator.range(0, cut).map(i => f"$i%08d;S;20070701;;N;;")),
      ("b/K3241.K03200Y0.D60101.SIMPLES", StandardCharsets.UTF_8,
        Iterator.range(cut, rowsPerPart).map(i => f"$i%08d;S;20070701;;N;;")))
    // Dimensions — one per remaining table, one charset hazard each
    val dimRows = 5000
    add("Cnaes.zip", ("K1.D601.CNAECSV", StandardCharsets.UTF_8,
      Iterator.range(0, dimRows).map(i => f"$i%07d;Cultivo de café $i")))
    // CP1252: curly quotes are C1 bytes — must route to windows-1252, not
    // Latin-1 (where they are unassigned controls)
    add("Motivos.zip", ("K1.D601.MOTIV", Charset.forName("windows-1252"),
      Iterator.range(0, dimRows).map(i => f"$i%02d;Motivo “especial” $i")))
    add("Municipios.zip", ("K1.D601.MUNIC", StandardCharsets.ISO_8859_1,
      Iterator.range(0, dimRows).map(i => f"$i%04d;Município São José $i")))
    zipStreamed(src, "Naturezas.zip", Seq(("K1.D601.NATJU",
      StandardCharsets.UTF_8,
      Iterator.range(0, dimRows).map(i => f"$i%04d;Natureza Jurídica $i"))),
      prefixBom = true) // utf-8-sig: the BOM must be stripped, never loaded
    zips += "Naturezas.zip"
    // BOM-less UTF-16LE (zero-pattern heuristic route)
    add("Paises.zip", ("K1.D601.PAIS", StandardCharsets.UTF_16LE,
      Iterator.range(0, dimRows).map(i => f"$i%03d;São Tomé e Príncipe $i")))
    // UTF-16BE WITH BOM (BOM sniff + BOM-consuming read path)
    zipStreamed(src, "Qualificacoes.zip", Seq(("K1.D601.QUALS",
      StandardCharsets.UTF_16BE,
      Iterator.range(0, dimRows).map(i => f"$i%02d;Qualificação $i"))),
      prefixBom = true)
    zips += "Qualificacoes.zip"
    // one corrupt archive: downloads fine, never extracts; the self-heal
    // path resets it to pendente each run — the rest of the month must
    // load regardless, identically in every variant
    Files.write(src.resolve("Corrompido.zip"),
      Array.tabulate[Byte](4096)(i => ((i * 31 + 7) & 0xFF).toByte))
    zips += "Corrompido.zip"
    Files.write(src.resolve("listing.html"),
      ("<html><body>" +
        zips.map(z => s"""<a href="$z">$z</a>""").mkString +
        """<a href="leiame.pdf">doc</a></body></html>""")
        .getBytes(StandardCharsets.UTF_8))
    val expected = Map(
      "rfb_empresas" -> 10 * R,
      "rfb_estabelecimentos" -> (10 * R + tailRows),
      "rfb_socios" -> 10 * R,
      "rfb_simples" -> R,
      "rfb_cnaes" -> dimRows.toLong,
      "rfb_motivos" -> dimRows.toLong,
      "rfb_municipios" -> dimRows.toLong,
      "rfb_naturezas" -> dimRows.toLong,
      "rfb_paises" -> dimRows.toLong,
      "rfb_qualificacoes" -> dimRows.toLong)
    (zips.size, expected)
  }

  // ---------------------------------------------------------------- run ---

  /** Kill -9 at a deterministic point: after the k-th table overwrite
    * RETURNS, halt the JVM with no shutdown hooks, no buffers flushed, no
    * Spark stop — exactly the process state an external SIGKILL leaves.
    * (The external, randomly-timed variant is in tools/rehearse.sh.)
    */
  private final class KillAfterSink(inner: TableSink, killAfter: Int)
      extends TableSink {
    private val n = new java.util.concurrent.atomic.AtomicInteger(0)
    override def overwrite(df: DataFrame, table: String, refMonth: String)
        : Unit = {
      inner.overwrite(df, table, refMonth)
      if (n.incrementAndGet() == killAfter) {
        System.err.println(s"REHEARSE: halting after $killAfter overwrites")
        System.err.flush()
        Runtime.getRuntime.halt(137)
      }
    }
    override def readBack(spark: SparkSession, table: String,
        refMonth: String): DataFrame = inner.readBack(spark, table, refMonth)
    override def observesWrites: Boolean = inner.observesWrites
    override def concurrentOverwrites: Int = inner.concurrentOverwrites
  }

  /** One full pipeline pass. `killAfter > 0` arms the deterministic halt
    * (variant B). private[tools]: RehearsalGateSpec runs the control and
    * resume passes in-process (only the HALTING pass needs a child JVM)
    * so crash-resume equality is pinned on every `sbt test`, not once per
    * judge order (r13 verdict order #4).
    */
  private[tools] def runOnce(spark: SparkSession, src: Path, work: Path,
      out: String, failFirst: Map[String, Int], killAfter: Int = -1): Unit = {
    Files.createDirectories(work)
    val sink: TableSink =
      if (killAfter > 0) new KillAfterSink(new ParquetSink(out), killAfter)
      else new ParquetSink(out)
    val pipe = new RfbPipeline(spark, work, out, RefMonth,
      new LocalFetcher(src, failFirst), backoffMs = 0L, sink0 = sink,
      ioParallelism = 8)
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    val (planned, tPlan) = timed(pipe.plan("file://rfb/"))
    val (dl, tDl) = timed(pipe.download(planned))
    val (ex, tEx) = timed(pipe.extract(dl))
    val (fx, tFix) = timed(pipe.fix(ex))
    // the external killer greps for this marker, then aims inside the phase
    println("REHEARSE_PHASE:load:begin"); System.out.flush()
    val (ld, tLoad) = timed(pipe.load(fx))
    val rep = pipe.report(ld)
    def s(v: Double) = f"$v%.1f"
    println(s"""{"rehearse_run":{"sucesso":${rep.sucesso},""" +
      s""""falhas_ou_pendentes":${rep.falhasOuPendentes},""" +
      s""""pendentes":"${rep.failed.map(_.arquivo).mkString(",")}",""" +
      s""""plan_s":${s(tPlan)},"download_s":${s(tDl)},""" +
      s""""extract_s":${s(tEx)},"fix_s":${s(tFix)},"load_s":${s(tLoad)}}}""")
    System.out.flush()
  }

  // ------------------------------------------------------------ compare ---

  /** Order-insensitive content fingerprint of a sink read-back: row count +
    * DECIMAL(38) sum of per-row xxhash64 over every column (a plain BIGINT
    * sum throws ARITHMETIC_OVERFLOW under Spark 4's default ANSI mode —
    * caught by this harness's own smoke run). Distributed — no driver-side
    * row traffic.
    */
  private[tools] def fingerprint(df: DataFrame): (Long, BigDecimal) = {
    val h = xxhash64(df.columns.map(col).toSeq: _*)
    val row = df
      .agg(count(lit(1)).as("n"),
        coalesce(sum(h.cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))
          .as("h"))
      .head()
    (row.getLong(0), BigDecimal(row.getDecimal(1)))
  }

  private def compare(spark: SparkSession, outA: String, outB: String,
      refMonth: String): Unit = {
    val a = new ParquetSink(outA)
    val b = new ParquetSink(outB)
    var bad = 0
    tables.foreach { t =>
      val (na, ha) = fingerprint(a.readBack(spark, t, refMonth))
      val (nb, hb) = fingerprint(b.readBack(spark, t, refMonth))
      val ok = na == nb && ha == hb
      if (!ok) bad += 1
      println(f"REHEARSE_CMP $t%-22s rowsA=$na%9d rowsB=$nb%9d " +
        s"hashEq=${ha == hb} ${if (ok) "OK" else "DRIFT"}")
    }
    System.out.flush()
    if (bad > 0) { println(s"REHEARSE_CMP RESULT: $bad tables drifted"); sys.exit(1) }
    println("REHEARSE_CMP RESULT: all tables content-equal")
  }

  /** Operator retry after exhausted download attempts: falhou → pendente.
    * This is the reference's manual-rerun workflow (`main.py` leaves falhou
    * terminal); the resumed run must then rebuild every table the healed
    * entry contributes to from ALL its contributors (RfbPipeline.load's
    * full-refresh contributor rule), not just the late arrival.
    */
  private def resetDownload(manifestPath: String): Unit = {
    val entries = Manifest.load(manifestPath)
    val reset = entries.map { e =>
      if (e.statusDownload == Status.Falhou)
        e.copy(statusDownload = Status.Pendente)
      else e
    }
    Manifest.save(manifestPath, reset)
    println(s"REHEARSE reset ${entries.count(_.statusDownload == Status.Falhou)} falhou downloads to pendente")
  }

  /** `body` on a `local[$SPARK_GRAFT_CPUS]` session, stopped after; only
    * the modes that read or write the lake start one.
    */
  private def withSpark(body: SparkSession => Unit): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try body(spark) finally spark.stop()
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "gen" :: src :: rows :: Nil =>
      val (zips, exp) = gen(Paths.get(src), rows.toInt)
      println(s"REHEARSE gen: $zips zips, expected rows " +
        exp.toSeq.sortBy(_._1).map { case (t, n) => s"$t=$n" }.mkString(","))
    case "run" :: src :: work :: out :: rest =>
      val failFirst = rest.flatMap(_.split(',')).filter(_.nonEmpty).map { kv =>
        val Array(k, v) = kv.split(':'); k -> v.toInt
      }.toMap
      withSpark(runOnce(_, Paths.get(src), Paths.get(work), out, failFirst,
        sys.env.get("REHEARSE_KILL_AFTER_TABLES").map(_.toInt).getOrElse(-1)))
    case "reset-download" :: manifest :: Nil =>
      resetDownload(manifest)
    case "compare" :: outA :: outB :: refMonth :: Nil =>
      withSpark(compare(_, outA, outB, refMonth))
    case other =>
      System.err.println(s"unknown rehearse args: $other"); sys.exit(2)
  }
}
