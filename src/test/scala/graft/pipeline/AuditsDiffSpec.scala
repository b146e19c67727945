package graft.pipeline

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class AuditsDiffSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("post-load audit passes on well-formed empresas rows") {
    import spark.implicits._
    val df = Seq(
      ("11222333", "ACME", "2062", "49", "100,00", "03", ""),
      ("99887766", "BETA", "2046", "05", "0,00", "05", ""))
      .toDF((0 to 6).map(i => s"c$i"): _*)
    val r = Audits.run(df, "rfb_empresas")
    assert(r.passed)
    assert(r.rows == 2 && r.keyNulls == 0 && r.keyPatternMatches == 2)
  }

  test("column-shift detection: values slid one column over fail the audit") {
    import spark.implicits._
    // simulate a delimiter bug: name landed in c0, key in c1
    val df = Seq(
      ("ACME", "11222333", "2062", "49", "100,00", "03", ""),
      ("BETA", "99887766", "2046", "05", "0,00", "05", ""))
      .toDF((0 to 6).map(i => s"c$i"): _*)
    val r = Audits.run(df, "rfb_empresas")
    assert(!r.passed)
    assert(r.keyPatternMatches == 0 && r.shiftSuspects == 2)
  }

  test("null-key audit: nulls in the key column fail") {
    import spark.implicits._
    val df = Seq(
      (Option("11222333"), "ACME"),
      (Option.empty[String], "GHOST"))
      .toDF("c0", "c1")
    val r = Audits.run(df, "rfb_empresas")
    assert(!r.passed && r.keyNulls == 1)
  }

  test("strictAudits gates the load on a column-shifted file") {
    import java.nio.charset.StandardCharsets
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val src = Files.createTempDirectory("strict-src")
    val z = new ZipOutputStream(
      new java.io.FileOutputStream(src.resolve("Cnaes.zip").toFile))
    z.putNextEntry(new ZipEntry("K1.D509.CNAECSV"))
    // shifted: description first, code second
    z.write("Cultivo;0111301\nAcao;0111302\n".getBytes(StandardCharsets.UTF_8))
    z.closeEntry(); z.close()
    Files.write(src.resolve("listing.html"),
      """<a href="Cnaes.zip">z</a>""".getBytes(StandardCharsets.UTF_8))
    val pipe = new RfbPipeline(spark, Files.createTempDirectory("strict-w"),
      Files.createTempDirectory("strict-o").toString, "202601",
      new LocalFetcher(src), backoffMs = 0L, strictAudits = true)
    val done = pipe.run("file://rfb/")
    assert(done.head.statusCarga == Status.Falhou)
    assert(!pipe.lastAudits("rfb_cnaes").passed)
    assert(pipe.lastAudits("rfb_cnaes").shiftSuspects == 2)
  }

  test("snapshot diff: added / removed / changed across two months") {
    import spark.implicits._
    val out = Files.createTempDirectory("diff-out").toString
    Seq(("001", "Alpha"), ("002", "Beta"), ("003", "Gamma"))
      .toDF("c0", "c1").write.parquet(s"$out/rfb_cnaes/ref_month=202601")
    Seq(("002", "Beta"), ("003", "Gamma v2"), ("004", "Delta"))
      .toDF("c0", "c1").write.parquet(s"$out/rfb_cnaes/ref_month=202602")

    val d = SnapshotDiff.diff(spark, out, "rfb_cnaes", "202601", "202602")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(d == Set(("004", "added"), ("001", "removed"), ("003", "changed")))

    val s = SnapshotDiff.summary(spark, out, "rfb_cnaes", "202601", "202602")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(s == Map("added" -> 1L, "removed" -> 1L, "changed" -> 1L))
  }
}
