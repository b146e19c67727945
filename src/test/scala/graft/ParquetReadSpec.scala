package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.ReadJobs.{assertSameAsPlainRead, jobsDuring}

/** Testdata table reads ([[Tables.apply]], [[Tables.rawEvents]]) take their
  * schema from one parquet footer read on the driver ([[ParquetRead]]).
  * Each case pins the frame's schema and rows to `spark.read.parquet` on
  * the same path, and that building the frame launches no Spark job.
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
}
