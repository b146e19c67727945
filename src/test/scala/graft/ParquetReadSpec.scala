package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.ReadJobs.{assertSameAsPlainRead, jobsDuring}

/** Testdata table reads ([[Tables.apply]], [[Tables.rawEvents]]) take their
  * schema from one parquet footer read on the driver ([[ParquetRead]]).
  * Each case pins the frame's schema and rows to `spark.read.parquet` on
  * the same path, and that building the frame launches no Spark job.
  * [[ParquetRead.rowCount]] answers from the footers with no job, and
  * every shape the footer path does not cover counts through Spark.
  */
class ParquetReadSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val frame = Seq((1L, "a", BigDecimal("1.50")), (2L, "b", null),
    (3L, null, BigDecimal("-0.25"))).toDF("k", "s", "amount")

  test("a single-file table (the fixture layout)") {
    val sf = Files.createTempDirectory("parquet-read")
    val parts = sf.resolve("parts").toString
    frame.coalesce(1).write.parquet(parts)
    val part = Files.list(Paths.get(parts)).filter(p =>
      p.getFileName.toString.endsWith(".parquet")).findFirst().get
    Files.move(part, sf.resolve("t.parquet"))
    val path = sf.resolve("t.parquet").toString
    val (df, jobs) = jobsDuring(Tables(spark, sf.toString, "t"))
    assert(jobs === 0)
    assertSameAsPlainRead(df, path)
    assert(df.count() === 3L)
    // the plain read this replaces launches the footer job
    assert(jobsDuring(spark.read.parquet(path))._2 === 1)
  }

  test("a table stored as a dir of part files") {
    val sf = Files.createTempDirectory("parquet-read").toString
    frame.repartition(3).write.parquet(s"$sf/t.parquet")
    val (df, jobs) = jobsDuring(Tables(spark, sf, "t"))
    assert(jobs === 0)
    assertSameAsPlainRead(df, s"$sf/t.parquet")
  }

  test("nanos events keep ts as LONG under the scoped legacy flag") {
    val dir = "src/test/resources/fixtures/nanos"
    val (df, jobs) = jobsDuring(Tables.rawEvents(spark, dir))
    assert(jobs === 0)
    assert(df.schema("ts").dataType === LongType)
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.set(key, "true")
    val plain = try spark.read.parquet(s"$dir/events.parquet")
      finally spark.conf.unset(key)
    assert(df.schema === plain.schema)
    assert(df.collect().map(_.toString).sorted ===
      plain.collect().map(_.toString).sorted)
  }

  test("rowCount: a single file and a dir of part files, from the footers") {
    val sf = Files.createTempDirectory("parquet-count").toString
    frame.repartition(3).write.parquet(s"$sf/t")
    frame.coalesce(1).write.parquet(s"$sf/one")
    val one = new java.io.File(s"$sf/one").listFiles()
      .find(_.getName.endsWith(".parquet")).get.toString
    Seq(s"$sf/t", one).foreach { path =>
      val (n, jobs) = jobsDuring(ParquetRead.rowCount(spark, path))
      assert(jobs === 0, path)
      assert(n === 3L && n === spark.read.parquet(path).count(), path)
    }
  }

  /** `rowCount(path)` equals `session`'s plain count and launched a Spark
    * job, i.e. it fell through to `count()`.
    */
  private def assertCountedBySpark(session: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val (n, jobs) = jobsDuring(ParquetRead.rowCount(session, path))
    assert(jobs >= 1, s"$path was not counted by Spark")
    assert(n === session.read.parquet(path).count())
  }

  test("rowCount falls through to Spark's count for shapes the footers " +
    "do not settle") {
    val sf = Files.createTempDirectory("parquet-count").toString
    // a partitioned dir (subdirectories)
    frame.write.partitionBy("s").parquet(s"$sf/parted")
    assertCountedBySpark(spark, s"$sf/parted")
    // a parquet summary file next to the part files
    frame.repartition(2).write.parquet(s"$sf/summary")
    val part = new java.io.File(s"$sf/summary").listFiles()
      .find(_.getName.endsWith(".parquet")).get.toPath
    Files.copy(part, Paths.get(s"$sf/summary/_common_metadata"))
    assertCountedBySpark(spark, s"$sf/summary")
    // schema merging on in the session
    frame.repartition(2).write.parquet(s"$sf/merge")
    val merging = spark.newSession()
    merging.conf.set("spark.sql.parquet.mergeSchema", "true")
    assertCountedBySpark(merging, s"$sf/merge")
    // an unreadable footer: a zero-length data file, which Spark's scan
    // skips
    frame.repartition(2).write.parquet(s"$sf/corrupt")
    Files.createFile(Paths.get(s"$sf/corrupt/part-zz-empty.parquet"))
    assertCountedBySpark(spark, s"$sf/corrupt")
    assert(spark.read.parquet(s"$sf/corrupt").count() === 3L)
    // no data file at all: Spark's own error. On a fresh session: the
    // shared one carries the pipeline specs' observation listener, which
    // logs a stack trace for every failed analysis it sees
    val empty = Files.createTempDirectory("parquet-count").toString
    val fresh = spark.newSession()
    val plain = intercept[org.apache.spark.sql.AnalysisException](
      fresh.read.parquet(empty).count())
    val got = intercept[org.apache.spark.sql.AnalysisException](
      ParquetRead.rowCount(fresh, empty))
    assert(got.getCondition === plain.getCondition)
  }
}
