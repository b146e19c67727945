package graft.pipeline

import java.io.FileOutputStream
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path => JPath}
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.AnalysisException
import org.scalatest.funsuite.AnyFunSuite

import graft.ReadJobs.{assertSameAsPlainRead, jobsDuring}
import graft.TestSpark
import graft.operators.TxLog

/** Lake reads ([[ParquetSink.readBack]], [[TxLog.readVersion]]) take their
  * schema from one parquet footer read on the driver
  * ([[graft.ParquetRead]]). Each case pins the frame's schema and
  * rows to `spark.read.parquet` on the same dir, and that building the
  * frame launches no Spark job. The audit's row count
  * ([[ParquetSink.loadedRows]]) sums the footers of the same dir, also
  * with no Spark job, including after the staging swap's crash recovery.
  */
class LakeReadSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def mkZip(dir: JPath, zipName: String, name: String,
      bytes: Array[Byte]): Unit = {
    val z = new ZipOutputStream(
      new FileOutputStream(dir.resolve(zipName).toFile))
    try { z.putNextEntry(new ZipEntry(name)); z.write(bytes); z.closeEntry() }
    finally z.close()
  }

  test("a pipeline-written RFB table reads back as spark.read.parquet " +
    "does, with no Spark job") {
    val src = Files.createTempDirectory("rfb-src")
    val work = Files.createTempDirectory("rfb-work")
    val out = Files.createTempDirectory("rfb-out").toString
    mkZip(src, "Cnaes.zip", "K1.D509.CNAECSV",
      "0111301;Cultivo de café\n0111302;Ação agrícola\n"
        .getBytes(StandardCharsets.ISO_8859_1))
    Files.write(src.resolve("listing.html"),
      """<html><a href="Cnaes.zip">Cnaes.zip</a></html>"""
        .getBytes(StandardCharsets.UTF_8))
    val done = new RfbPipeline(spark, work, out, "202601",
      new LocalFetcher(src), backoffMs = 0L).run("file://rfb/")
    assert(done.map(_.statusCarga) === Seq(Status.Sucesso))
    val (df, jobs) = jobsDuring(
      new ParquetSink(out).readBack(spark, "rfb_cnaes", "202601"))
    assert(jobs === 0)
    assertSameAsPlainRead(df, s"$out/rfb_cnaes/ref_month=202601")
    assert(df.count() === 2L)
  }

  test("an ad-hoc two-column frame, and its schema-inference job is gone") {
    val out = Files.createTempDirectory("lake-read").toString
    val sink = new ParquetSink(out)
    sink.overwrite(Seq((BigDecimal("12.50"), Seq("a", null)),
      (null, Seq.empty[String])).toDF("amount", "tags"), "t", "202401")
    val dir = s"$out/t/ref_month=202401"
    val (df, jobs) = jobsDuring(sink.readBack(spark, "t", "202401"))
    assert(jobs === 0)
    assertSameAsPlainRead(df, dir)
    // the plain read this replaces launches the footer job
    assert(jobsDuring(spark.read.parquet(dir))._2 === 1)
  }

  test("an empty-frame overwrite reads back its schema and no rows") {
    val out = Files.createTempDirectory("lake-read").toString
    val sink = new ParquetSink(out)
    sink.overwrite(Seq.empty[(Long, String)].toDF("k", "v"), "t", "202401")
    val (df, jobs) = jobsDuring(sink.readBack(spark, "t", "202401"))
    assert(jobs === 0)
    assertSameAsPlainRead(df, s"$out/t/ref_month=202401")
    assert(df.columns.toSeq === Seq("k", "v"))
  }

  test("a TxLog version, through readVersion") {
    val root = Files.createTempDirectory("lake-read").toString
    val v1 = TxLog.write(spark, root, Seq((1, "a"), (2, "b")).toDF("k", "v"), 0L)
    val v2 = TxLog.write(spark, root, Seq((3, 4.5)).toDF("k", "x"), v1)
    val dirs = new java.io.File(root).list().filter(_.matches("v\\d+-.*"))
    def dataDir(v: Long) = s"$root/${dirs.find(_.startsWith(s"v$v-")).get}"
    Seq(v1, v2).foreach { v =>
      val (df, jobs) = jobsDuring(TxLog.readVersion(spark, root, v))
      assert(jobs === 0, s"version $v")
      assertSameAsPlainRead(df, dataDir(v))
    }
  }

  /** `sink.loadedRows` equals `spark.read.parquet(dir).count()` and
    * launches no Spark job.
    */
  private def assertFooterCount(sink: ParquetSink, table: String,
      dir: String, want: Long): Unit = {
    val (n, jobs) = jobsDuring(sink.loadedRows(spark, table, "202401"))
    assert(jobs === 0)
    assert(n === spark.read.parquet(dir).count())
    assert(n === want)
  }

  test("loadedRows sums the footers of a multi-file snapshot") {
    val out = Files.createTempDirectory("lake-read").toString
    val sink = new ParquetSink(out)
    sink.overwrite(spark.range(0, 1000, 1, 4).toDF("k"), "t", "202401")
    val dir = s"$out/t/ref_month=202401"
    assert(new java.io.File(dir).list().count(_.startsWith("part-")) === 4)
    assertFooterCount(sink, "t", dir, 1000L)
    // a second overwrite: the count is the new snapshot's, not a sum
    sink.overwrite(spark.range(0, 7, 1, 2).toDF("k"), "t", "202401")
    assertFooterCount(sink, "t", dir, 7L)
  }

  test("loadedRows of an empty-frame overwrite is 0") {
    val out = Files.createTempDirectory("lake-read").toString
    val sink = new ParquetSink(out)
    sink.overwrite(Seq.empty[(Long, String)].toDF("k", "v"), "t", "202401")
    assertFooterCount(sink, "t", s"$out/t/ref_month=202401", 0L)
  }

  /** A 5-row snapshot of `t` plus a 12-row staging dir beside it, as an
    * overwrite that stopped inside its swap leaves them; `complete = false`
    * drops the staging dir's `_SUCCESS`, as a crash mid-write does.
    */
  private def crashedSwap(complete: Boolean): (ParquetSink, Path, Path) = {
    val out = Files.createTempDirectory("lake-read").toString
    val sink = new ParquetSink(out)
    sink.overwrite(spark.range(0, 5, 1, 2).toDF("k"), "t", "202401")
    val staging = new Path(s"$out/t/_staging_ref_month=202401")
    spark.range(0, 12, 1, 3).toDF("k").write.parquet(staging.toString)
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!complete) assert(fs.delete(new Path(staging, "_SUCCESS"), false))
    (sink, new Path(s"$out/t/ref_month=202401"), staging)
  }

  test("loadedRows after a crash inside the swap promotes the complete " +
    "staging dir and counts it") {
    val (sink, dir, staging) = crashedSwap(complete = true)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the swap's first rename ran (final moved aside), its second did not
    assert(fs.rename(dir, new Path(dir.getParent, "_backup_ref_month=202401")))
    assertFooterCount(sink, "t", dir.toString, 12L)
    assert(!fs.exists(staging))
  }

  test("loadedRows beside a partial staging dir counts the old snapshot") {
    val (sink, dir, staging) = crashedSwap(complete = false)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash mid-write: the final dir is untouched
    assertFooterCount(sink, "t", dir.toString, 5L)
    // a retried write crashed after an earlier swap had moved final aside:
    // the backup is restored and counted, the partial staging ignored
    assert(fs.rename(dir, new Path(dir.getParent, "_backup_ref_month=202401")))
    assertFooterCount(sink, "t", dir.toString, 5L)
    assert(fs.exists(staging))
  }

  test("a dir whose data files are gone raises the plain read's error") {
    val out = Files.createTempDirectory("lake-read").toString
    val sink = new ParquetSink(out)
    sink.overwrite(Seq(("x", "y")).toDF("c0", "c1"), "t", "202401")
    val dir = new Path(s"$out/t/ref_month=202401")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.startsWith("part-")).foreach(fs.delete(_, false))
    val plain = intercept[AnalysisException](spark.read.parquet(dir.toString))
    val got = intercept[AnalysisException](sink.readBack(spark, "t", "202401"))
    assert(got.getClass === plain.getClass)
    assert(got.getCondition === plain.getCondition)
    assert(got.getCondition === "UNABLE_TO_INFER_SCHEMA")
    val counted = intercept[AnalysisException](
      sink.loadedRows(spark, "t", "202401"))
    assert(counted.getCondition === plain.getCondition)
  }
}
