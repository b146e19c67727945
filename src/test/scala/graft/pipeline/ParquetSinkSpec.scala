package graft.pipeline

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Crash-safety of the lake sink's staging swap. The swap is rename+rename
  * (old snapshot aside to `_backup`, staging in, backup dropped) — these
  * specs reconstruct each crash window's on-disk state and assert a reader
  * always sees a full snapshot: the old one, or a COMPLETE new one promoted
  * by [[ParquetSink.readBack]]. The delete-then-rename shape this replaces
  * had a window with NO readable state (r9 ADVICE).
  */
class ParquetSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fs(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("overwrite replaces and leaves no staging/backup residue") {
    val out = Files.createTempDirectory("psink").toString
    val sink = new ParquetSink(out)
    sink.overwrite(Seq(("1", "a")).toDF("c0", "c1"), "rfb_paises", "202401")
    sink.overwrite(Seq(("2", "b"), ("3", "c")).toDF("c0", "c1"),
      "rfb_paises", "202401")
    assert(sink.readBack(spark, "rfb_paises", "202401").count() === 2)
    val table = new Path(s"$out/rfb_paises")
    val names = fs(table).listStatus(table).map(_.getPath.getName).toSet
    assert(names === Set("ref_month=202401"), names.toString)
  }

  test("crash inside the swap (final moved aside, staging complete): readBack promotes the NEW snapshot") {
    val out = Files.createTempDirectory("psink").toString
    val sink = new ParquetSink(out)
    sink.overwrite(Seq(("old", "x")).toDF("c0", "c1"), "rfb_cnaes", "202401")
    // build the next snapshot's complete staging exactly as overwrite does,
    // then stop after the first rename (final -> backup): the crash window
    Seq(("new1", "y"), ("new2", "z")).toDF("c0", "c1").write
      .parquet(s"$out/rfb_cnaes/_staging_ref_month=202401")
    val table = new Path(s"$out/rfb_cnaes")
    assert(fs(table).rename(new Path(table, "ref_month=202401"),
      new Path(table, "_backup_ref_month=202401")))
    val back = sink.readBack(spark, "rfb_cnaes", "202401")
    assert(back.count() === 2) // the complete new snapshot, not the backup
    assert(back.select("c0").as[String].collect().toSet === Set("new1", "new2"))
  }

  test("crash mid-write (staging partial, no _SUCCESS): old data stays the truth") {
    val out = Files.createTempDirectory("psink").toString
    val sink = new ParquetSink(out)
    sink.overwrite(Seq(("old", "x")).toDF("c0", "c1"), "rfb_motivos", "202401")
    // a partial staging dir: parquet files but no _SUCCESS marker
    val staging = s"$out/rfb_motivos/_staging_ref_month=202401"
    Seq(("partial", "p")).toDF("c0", "c1").write.parquet(staging)
    val fsys = fs(new Path(staging))
    fsys.delete(new Path(staging, "_SUCCESS"), false)
    assert(sink.readBack(spark, "rfb_motivos", "202401")
      .select("c0").as[String].collect().toSet === Set("old"))
    // and the next overwrite clears the residue and lands cleanly
    sink.overwrite(Seq(("v2", "w")).toDF("c0", "c1"), "rfb_motivos", "202401")
    assert(sink.readBack(spark, "rfb_motivos", "202401")
      .select("c0").as[String].collect().toSet === Set("v2"))
  }

  test("a concurrent reader's promotion of our staging is success, not failure") {
    // r13 review wave: writer between its two swap renames, a concurrent
    // readBack sees {final absent, staging complete}, promotes staging
    // itself; the writer's rename(staging→final) then fails. State after
    // the reader won: staging GONE, final = the writer's OWN complete
    // snapshot, backup still aside. The writer must report success (the
    // load landed) and drop the backup — not mark the table falhou.
    val out = Files.createTempDirectory("psink").toString
    val sink = new ParquetSink(out)
    sink.overwrite(Seq(("new", "x")).toDF("c0", "c1"), "rfb_paises", "202401")
    val finalPath = new Path(s"$out/rfb_paises/ref_month=202401")
    val staging = new Path(s"$out/rfb_paises/_staging_ref_month=202401")
    val backup = new Path(s"$out/rfb_paises/_backup_ref_month=202401")
    val f = fs(finalPath)
    f.mkdirs(backup) // the old snapshot the writer moved aside
    sink.promoteStaging(f, staging, finalPath, backup) // staging absent
    assert(!f.exists(backup), "backup must be dropped on promoted success")
    assert(sink.readBack(spark, "rfb_paises", "202401")
      .select("c0").as[String].collect().toSet === Set("new"))
  }

  test("staging vanished WITHOUT a complete final: restore backup and fail") {
    val out = Files.createTempDirectory("psink").toString
    val sink = new ParquetSink(out)
    sink.overwrite(Seq(("old", "x")).toDF("c0", "c1"), "rfb_paises", "202401")
    val finalPath = new Path(s"$out/rfb_paises/ref_month=202401")
    val staging = new Path(s"$out/rfb_paises/_staging_ref_month=202401")
    val backup = new Path(s"$out/rfb_paises/_backup_ref_month=202401")
    val f = fs(finalPath)
    // simulate: old snapshot moved aside, staging lost, nothing complete at
    // final — the writer must restore the backup and throw
    assert(f.rename(finalPath, backup))
    intercept[java.io.IOException] {
      sink.promoteStaging(f, staging, finalPath, backup)
    }
    assert(sink.readBack(spark, "rfb_paises", "202401")
      .select("c0").as[String].collect().toSet === Set("old"))
  }

  test("crash with final missing and staging partial: backup is restored") {
    val out = Files.createTempDirectory("psink").toString
    val sink = new ParquetSink(out)
    sink.overwrite(Seq(("old", "x")).toDF("c0", "c1"), "rfb_quals", "202401")
    val table = new Path(s"$out/rfb_quals")
    // final aside, staging INCOMPLETE (crash during a retried write after
    // an earlier swap crash): only the backup is a full snapshot
    assert(fs(table).rename(new Path(table, "ref_month=202401"),
      new Path(table, "_backup_ref_month=202401")))
    val staging = s"$out/rfb_quals/_staging_ref_month=202401"
    Seq(("partial", "p")).toDF("c0", "c1").write.parquet(staging)
    fs(table).delete(new Path(staging, "_SUCCESS"), false)
    assert(sink.readBack(spark, "rfb_quals", "202401")
      .select("c0").as[String].collect().toSet === Set("old"))
  }
}
