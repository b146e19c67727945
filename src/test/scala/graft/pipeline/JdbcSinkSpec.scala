package graft.pipeline

import java.io.FileOutputStream
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.sql.DriverManager
import java.util.Properties
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** JDBC relational sink — parity with the reference's actual deployment
  * (`main.py:198-216`: TRUNCATE then append into a per-month schema, then a
  * `COUNT(*)` read-back gates the load). Runs against embedded Derby (ships
  * with Spark's jars), which exercises the same Spark `jdbc` writer path a
  * Postgres deployment uses.
  */
class JdbcSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshDb(): String = {
    val dir = Files.createTempDirectory("derby-sink")
    // Derby wants to create the db directory itself
    Files.delete(dir)
    s"jdbc:derby:$dir;create=true"
  }

  private val props = {
    val p = new Properties()
    p.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    p
  }

  import spark.implicits._

  test("overwrite is truncate-then-append: second write replaces, not appends") {
    val url = freshDb()
    val sink = new JdbcSink(url, props, numPartitions = 2)
    sink.overwrite(Seq(("1", "a"), ("2", "b"), ("3", "c")).toDF("c0", "c1"),
      "rfb_cnaes", "202401")
    assert(sink.readBack(spark, "rfb_cnaes", "202401").count() === 3)

    sink.overwrite(Seq(("9", "z")).toDF("c0", "c1"), "rfb_cnaes", "202401")
    val after = sink.readBack(spark, "rfb_cnaes", "202401")
    assert(after.count() === 1)
    assert(after.select("c0").as[String].collect().toSeq === Seq("9"))
  }

  test("truncate preserves the existing table's DDL (no drop/recreate)") {
    val url = freshDb()
    // Pre-create the table with VARCHAR columns — as a DBA would — and
    // seed a stale row. Spark's own string mapping for Derby is CLOB, so
    // if the overwrite dropped and recreated the table the column type
    // would flip; TRUNCATE (the reference's semantics, main.py:200-203)
    // keeps the DDL and only clears the rows.
    val conn = DriverManager.getConnection(url, props)
    try {
      val st = conn.createStatement()
      st.executeUpdate("CREATE SCHEMA rfb_202401")
      st.executeUpdate(
        "CREATE TABLE rfb_202401.rfb_paises (c0 VARCHAR(32), c1 VARCHAR(64))")
      st.executeUpdate(
        "INSERT INTO rfb_202401.rfb_paises VALUES ('stale', 'row')")
      st.close()
    } finally conn.close()

    val sink = new JdbcSink(url, props)
    sink.overwrite(Seq(("105", "Brasil")).toDF("c0", "c1"),
      "rfb_paises", "202401")

    val back = sink.readBack(spark, "rfb_paises", "202401")
    assert(back.count() === 1) // stale row truncated away
    assert(back.select("c0").as[String].collect().toSeq === Seq("105"))
    val conn2 = DriverManager.getConnection(url, props)
    try {
      val rs = conn2.getMetaData.getColumns(null, "RFB_202401", "RFB_PAISES", "C0")
      assert(rs.next())
      assert(rs.getString("TYPE_NAME") === "VARCHAR") // DDL survived
      rs.close()
    } finally conn2.close()
  }

  test("COPY mode lands contents identical to the batched-INSERT mode") {
    // No live Postgres in this environment, so the COPY stand-in consumes
    // the EXACT text stream PgCopyApi would hand CopyManager — parsing the
    // COPY text format (tab fields, \N nulls, backslash escapes) back into
    // plain INSERTs against Derby. What this proves: the serialization
    // round-trips every awkward value, the per-partition orchestration
    // ships complete data, the DDL path truncates like the INSERT mode,
    // and the pipeline's row-count audit (readBack) gates both modes alike.
    val url = freshDb()
    // awkward values: tab, newline, backslash, literal "\N" text, null, CR
    val rows = Seq(
      ("1", "plain"), ("2", "tab\there"), ("3", "nl\nhere"),
      ("4", "back\\slash"), ("5", "\\N"), ("6", null), ("7", "cr\rhere"))
    val insertSink = new JdbcSink(url, props, numPartitions = 2)
    insertSink.overwrite(rows.toDF("c0", "c1"), "rfb_paises", "202401")
    val viaInsert = insertSink.readBack(spark, "rfb_paises", "202401")
      .collect().map(r => (r.getString(0), Option(r.getString(1)))).toSet
    val copySink = new JdbcSink(url, props, numPartitions = 2,
      copy = Some(DerbyCopyStandIn))
    copySink.overwrite(rows.toDF("c0", "c1"), "rfb_paises", "202402")
    val viaCopy = copySink.readBack(spark, "rfb_paises", "202402")
      .collect().map(r => (r.getString(0), Option(r.getString(1)))).toSet
    assert(viaCopy === viaInsert)
    assert(viaCopy.size === 7) // the audit both pipelines run
    // and COPY-mode overwrite truncates like the INSERT mode does
    copySink.overwrite(Seq(("9", "z")).toDF("c0", "c1"), "rfb_paises", "202402")
    assert(copySink.readBack(spark, "rfb_paises", "202402").count() === 1)
  }

  test("COPY mode round-trips timestamp/date/decimal/boolean exactly like INSERT mode") {
    // PgCopyText encodes non-binary fields via toString; this pins that
    // Spark's toString forms for the four awkward scalar types ARE valid
    // COPY text — the database parses them back to the same typed values
    // the batched-INSERT mode lands (r10 verdict #5: proven, not assumed).
    // The typed DDL comes from Spark's own JDBC type mapping both times,
    // so the stand-in's setString exercises the string→typed-column cast
    // a real COPY FROM STDIN performs.
    val url = freshDb()
    val typed = Seq(
      ("2024-01-15 10:30:00.123456", "2024-01-15", "12345.67", "true"),
      ("1999-12-31 23:59:59.999", "1970-01-01", "-0.01", "false"))
      .toDF("ts", "d", "amt", "flag")
      .selectExpr("cast(ts as timestamp) ts", "cast(d as date) d",
        "cast(amt as decimal(12,2)) amt", "cast(flag as boolean) flag")
      .unionAll(spark.sql(
        """select cast(null as timestamp) ts, cast(null as date) d,
          |cast(null as decimal(12,2)) amt, cast(null as boolean) flag"""
          .stripMargin))
    val insertSink = new JdbcSink(url, props, numPartitions = 2)
    insertSink.overwrite(typed, "rfb_audit", "202401")
    val copySink = new JdbcSink(url, props, numPartitions = 2,
      copy = Some(DerbyCopyStandIn))
    copySink.overwrite(typed, "rfb_audit", "202402")
    def dump(sink: JdbcSink, month: String): Seq[String] =
      sink.readBack(spark, "rfb_audit", month)
        .selectExpr("ts", "d", "amt", "flag")
        .collect().map(_.toString).sorted.toSeq
    val viaInsert = dump(insertSink, "202401")
    val viaCopy = dump(copySink, "202402")
    assert(viaCopy === viaInsert)
    assert(viaCopy.size === 3)
    // sub-second precision survived (the likeliest silent-truncation spot)
    assert(viaInsert.exists(_.contains("10:30:00.123456")), viaInsert.toString)
  }

  test("COPY targets columns BY NAME — a reordered pre-created table loads correctly") {
    // the DDL-preservation scenario: a DBA pre-creates the table with a
    // DIFFERENT physical column order; truncate mode keeps that DDL, and
    // the COPY column list must land values by name, exactly as the
    // INSERT mode does (a bare `COPY t FROM STDIN` would load c1 into c0)
    val url = freshDb()
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val st = conn.createStatement()
      try {
        // quoted-lowercase names, exactly what Spark's JDBC writer creates
        // — the pre-created table differs only in COLUMN ORDER
        st.executeUpdate("CREATE SCHEMA RFB_202403")
        st.executeUpdate("CREATE TABLE RFB_202403.RFB_PAISES " +
          """("c1" VARCHAR(50), "c0" VARCHAR(50))""")
      } finally st.close()
    } finally conn.close()
    val copySink = new JdbcSink(url, props, numPartitions = 2,
      copy = Some(DerbyCopyStandIn))
    copySink.overwrite(
      Seq(("k1", "v1"), ("k2", "v2")).toDF("c0", "c1"),
      "rfb_paises", "202403")
    val got = copySink.readBack(spark, "rfb_paises", "202403")
      .select("c0", "c1")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === Set(("k1", "v1"), ("k2", "v2")))
  }

  test("COPY mode refuses complex-typed columns loudly") {
    val url = freshDb()
    val sink = new JdbcSink(url, props, copy = Some(DerbyCopyStandIn))
    val df = Seq((1, Seq("a", "b"))).toDF("id", "tags")
    val e = intercept[IllegalArgumentException] {
      sink.overwrite(df, "rfb_paises", "202404")
    }
    assert(e.getMessage.contains("tags"))
  }

  test("COPY text encoding: escapes, nulls, bytea") {
    import org.apache.spark.sql.types._
    assert(PgCopyText.encodeField(null) === "\\N")
    assert(PgCopyText.encodeField("a\tb\nc\\d\re") === "a\\tb\\nc\\\\d\\re")
    assert(PgCopyText.encodeField("plain") === "plain")
    assert(PgCopyText.encodeField(Array[Byte](0xDE.toByte, 0xAD.toByte))
      === "\\\\xdead")
    val schema = StructType(Seq(StructField("a", StringType),
      StructField("b", StringType)))
    val row = org.apache.spark.sql.Row("x", null)
    assert(PgCopyText.encodeRow(row, schema) === "x\t\\N\n")
  }

  test("RecordsReader chunking never splits a surrogate pair (pgjdbc encodes per chunk)") {
    // pgjdbc's CopyManager.copyIn(sql, Reader) does
    // encoding.encode(new String(chunk)) for EACH read() chunk, so a
    // supplementary character straddling a chunk boundary of a record
    // longer than the copy buffer corrupted to replacement chars with the
    // row-count audit green (r13 review wave). Odd buffer sizes over
    // emoji-dense records force every alignment.
    val records = Seq(
      ("ab🙂" * 40) + "end", // BMP+supplementary interleaved
      "🙂" * 33, // nothing but surrogate pairs
      "plain ascii only")
    for (bufLen <- Seq(3, 7, 64)) {
      val r = new PgCopyText.RecordsReader(records.iterator)
      val cbuf = new Array[Char](bufLen)
      val perChunkEncoded = new java.io.ByteArrayOutputStream()
      var n = r.read(cbuf, 0, bufLen)
      while (n != -1) {
        // the pgjdbc behavior under test: each chunk encoded independently
        perChunkEncoded.write(
          new String(cbuf, 0, n).getBytes(StandardCharsets.UTF_8))
        n = r.read(cbuf, 0, bufLen)
      }
      val whole = records.mkString.getBytes(StandardCharsets.UTF_8)
      assert(perChunkEncoded.toByteArray === whole,
        s"bufLen=$bufLen per-chunk encode must equal whole-string encode")
    }
  }

  test("RecordsReader top-up reads (len shrinking to 1) still never split a pair " +
    "(r13 ADVICE: deferred pending char)") {
    // the caller pattern the n > 1 backoff alone could not protect: a
    // consumer that fills ITS OWN buffer with repeated reads — the last
    // top-up call has len == 1, and a splittable high surrogate there
    // lands at the end of the caller's buffer, which is then encoded
    // whole. The reader must refuse that read (return 0) and emit the
    // pair together at the start of the next buffer.
    val records = Seq(("x🙂" * 21) + "!", "🙂" * 13, "tail")
    for (bufLen <- Seq(2, 3, 5)) {
      val r = new PgCopyText.RecordsReader(records.iterator)
      val cbuf = new Array[Char](bufLen)
      val perBufferEncoded = new java.io.ByteArrayOutputStream()
      var eof = false
      while (!eof) {
        var filled = 0
        var flush = false
        while (!eof && !flush && filled < bufLen) {
          val n = r.read(cbuf, filled, bufLen - filled)
          if (n == -1) eof = true
          // 0 = the reader refused to split a pair into the 1-slot
          // remainder: the buffer filled so far is safe to encode, and the
          // next (fresh) buffer starts with the deferred pair together
          else if (n == 0) flush = true
          else filled += n
        }
        perBufferEncoded.write(
          new String(cbuf, 0, filled).getBytes(StandardCharsets.UTF_8))
      }
      val whole = records.mkString.getBytes(StandardCharsets.UTF_8)
      assert(perBufferEncoded.toByteArray === whole,
        s"bufLen=$bufLen top-up per-buffer encode must equal whole encode")
    }
    // a pathological always-len==1 caller cannot keep pairs whole, but must
    // still receive the exact char stream with no infinite 0-loop: a 0
    // return is always followed by progress on the retry
    val r1 = new PgCopyText.RecordsReader(records.iterator)
    val sb = new StringBuilder
    val one = new Array[Char](1)
    var n = r1.read(one, 0, 1)
    var consecutiveZeros = 0
    while (n != -1) {
      if (n == 0) { consecutiveZeros += 1; assert(consecutiveZeros <= 1) }
      else { sb.append(one(0)); consecutiveZeros = 0 }
      n = r1.read(one, 0, 1)
    }
    assert(sb.toString === records.mkString)
    // the no-arg read() must absorb the deferral lap itself: the inherited
    // default treats a 0 as "filled" and would inject a NUL from its
    // untouched scratch array (r14 review)
    val r2 = new PgCopyText.RecordsReader(records.iterator)
    val sb2 = new StringBuilder
    var c = r2.read()
    while (c != -1) { sb2.append(c.toChar); c = r2.read() }
    assert(sb2.toString === records.mkString)
    assert(!sb2.toString.contains('\u0000'))
  }

  test("concurrent first loads of a new month: the CREATE SCHEMA race fails no table") {
    // two JVMs (or threads) loading the same brand-new month both probe
    // "schema absent" and race the CREATE; the loser's SQLException used to
    // fail its whole table load even though the schema exists (r13 review
    // wave — the reference's CREATE SCHEMA IF NOT EXISTS semantics)
    val url = freshDb()
    val failures = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val tables = Seq("rfb_paises", "rfb_cnaes", "rfb_motivos", "rfb_municipios")
    val threads = tables.map { t =>
      new Thread(() =>
        try new JdbcSink(url, props)
          .overwrite(Seq(("1", t)).toDF("c0", "c1"), t, "209901")
        catch { case e: Throwable => failures.compareAndSet(null, e) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(60000))
    assert(failures.get() === null, s"race failure: ${failures.get()}")
    val sink = new JdbcSink(url, props)
    tables.foreach(t => assert(sink.readBack(spark, t, "209901").count() === 1))
  }

  test("schema-per-month snapshots land side by side") {
    val url = freshDb()
    val sink = new JdbcSink(url, props)
    sink.overwrite(Seq(("105", "Brasil")).toDF("c0", "c1"), "rfb_paises", "202401")
    sink.overwrite(Seq(("105", "Brasil"), ("149", "Chile")).toDF("c0", "c1"),
      "rfb_paises", "202402")
    assert(sink.readBack(spark, "rfb_paises", "202401").count() === 1)
    assert(sink.readBack(spark, "rfb_paises", "202402").count() === 2)
  }

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

  test("full pipeline run through the JDBC sink: load lands + audit gates") {
    val url = freshDb()
    val src = Files.createTempDirectory("rfb-src")
    val work = Files.createTempDirectory("rfb-work")
    mkZip(src, "Paises.zip", Seq(
      "K1.D509.PAIS" ->
        "105;Brasil\n160;Espanha\n".getBytes(StandardCharsets.ISO_8859_1)))
    writeListing(src, Seq("Paises.zip"))
    val sink = new JdbcSink(url, props)
    val pipe = new RfbPipeline(spark, work, outDir = "/unused", refMonth = "202401",
      fetcher = new LocalFetcher(src), backoffMs = 0, sink0 = sink)
    val entries = pipe.run("http://x/")
    assert(entries.forall(_.statusCarga == Status.Sucesso))
    assert(entries.head.registrosCarregados === 2)
    assert(sink.readBack(spark, "rfb_paises", "202401").count() === 2)
  }

  test("a several-table month through the JDBC sink loads one table at a " +
    "time, so numPartitions bounds the whole load's connections") {
    val url = freshDb()
    val src = Files.createTempDirectory("rfb-src")
    val work = Files.createTempDirectory("rfb-work")
    val dims = Seq("PAIS" -> "rfb_paises", "CNAECSV" -> "rfb_cnaes",
      "MOTIV" -> "rfb_motivos", "MUNIC" -> "rfb_municipios",
      "NATJU" -> "rfb_naturezas", "QUALS" -> "rfb_qualificacoes")
    dims.foreach { case (id, t) =>
      mkZip(src, s"$id.zip", Seq(s"K1.D509.$id" ->
        s"1;$t um\n2;$t dois\n3;$t tres\n".getBytes(StandardCharsets.UTF_8)))
    }
    writeListing(src, dims.map(d => s"${d._1}.zip"))
    val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    val peak = new java.util.concurrent.atomic.AtomicInteger(0)
    val sink = new JdbcSink(url, props, numPartitions = 2) {
      override def overwrite(df: org.apache.spark.sql.DataFrame,
          table: String, refMonth: String): Unit = {
        peak.accumulateAndGet(inFlight.incrementAndGet(), math.max)
        try super.overwrite(df, table, refMonth)
        finally inFlight.decrementAndGet()
      }
    }
    val pipe = new RfbPipeline(spark, work, outDir = "/unused", refMonth = "202401",
      fetcher = new LocalFetcher(src), backoffMs = 0, sink0 = sink)
    val entries = pipe.run("http://x/")
    assert(entries.map(_.statusCarga).toSet === Set(Status.Sucesso))
    assert(pipe.lastLoadErrors.isEmpty)
    assert(pipe.lastAudits.keySet === dims.map(_._2).toSet)
    assert(peak.get() === 1)
    dims.foreach { case (_, t) =>
      assert(sink.readBack(spark, t, "202401").count() === 3, t)
    }
  }

  test("count-audit gate: short read-back marks the load falhou") {
    val url = freshDb()
    val src = Files.createTempDirectory("rfb-src")
    val work = Files.createTempDirectory("rfb-work")
    mkZip(src, "Paises.zip", Seq(
      "K1.D509.PAIS" -> "105;Brasil\n160;Espanha\n".getBytes(StandardCharsets.UTF_8)))
    writeListing(src, Seq("Paises.zip"))
    // A sink whose read-back loses a row (e.g. a concurrent writer or a
    // partial insert) must fail the count audit, reference main.py:207-216.
    val lossy = new JdbcSink(url, props) {
      override def readBack(s: org.apache.spark.sql.SparkSession,
          table: String, refMonth: String) =
        super.readBack(s, table, refMonth).limit(1)
    }
    val pipe = new RfbPipeline(spark, work, outDir = "/unused", refMonth = "202401",
      fetcher = new LocalFetcher(src), backoffMs = 0, sink0 = lossy)
    val entries = pipe.run("http://x/")
    assert(entries.head.statusCarga === Status.Falhou)
    assert(entries.head.registrosCarregados === -1L)
  }
}

/** Spec-only [[CopyApi]]: replays the COPY text stream as plain INSERTs
  * against Derby — decoding exactly the format [[PgCopyText]] encodes, so
  * the round-trip pins the escaping rules. Top-level (not nested in the
  * suite) so the executor closure serializes only this stateless object.
  */
object DerbyCopyStandIn extends CopyApi {
  override def copyIn(conn: java.sql.Connection, sql: String,
      rows: java.io.Reader): Long = {
    // `COPY t ("a", "b") FROM STDIN` — the QUOTED column list is part of
    // the contract (COPY loads by position; the list makes it by-name with
    // the same quoted-identifier case behavior as the INSERT mode)
    val m = """COPY (\S+) \(([^)]*)\) FROM STDIN""".r
    val (table, columns) = sql match {
      case m(t, cs) => (t, cs.split(",").map(_.trim).toSeq)
      case _ => throw new IllegalArgumentException(s"unexpected COPY sql: $sql")
    }
    require(columns.forall(c => c.startsWith("\"") && c.endsWith("\"")),
      s"COPY columns must arrive quoted: $sql")
    val text = {
      val sb = new StringBuilder
      val buf = new Array[Char](4096)
      var n = rows.read(buf)
      while (n >= 0) { sb.appendAll(buf, 0, n); n = rows.read(buf) }
      sb.toString
    }
    def unescape(f: String): String = {
      val sb = new StringBuilder(f.length)
      var i = 0
      while (i < f.length) {
        val c = f.charAt(i)
        if (c == '\\' && i + 1 < f.length) {
          f.charAt(i + 1) match {
            case 't' => sb.append('\t'); case 'n' => sb.append('\n')
            case 'r' => sb.append('\r'); case o => sb.append(o)
          }
          i += 2
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }
    val records = text.split("\n").filter(_.nonEmpty)
    if (records.isEmpty) return 0L
    val ps = conn.prepareStatement(
      s"INSERT INTO $table (${columns.mkString(", ")}) " +
        s"VALUES (${Seq.fill(columns.length)("?").mkString(",")})")
    try {
      records.foreach { rec =>
        rec.split("\t", -1).zipWithIndex.foreach { case (f, i) =>
          if (f == "\\N") ps.setString(i + 1, null)
          else ps.setString(i + 1, unescape(f))
        }
        ps.addBatch()
      }
      ps.executeBatch().length.toLong
    } finally ps.close()
  }
}
