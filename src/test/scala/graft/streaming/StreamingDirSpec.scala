package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** File-stream sources must read a table that is a DIRECTORY of part files
  * — the only layout that exists at production scale — identically to the
  * single-file fixture layout. The old `pathGlobFilter` recipe matched only
  * a file literally named `events.parquet`, so a directory layout streamed
  * ZERO rows and every streaming query "succeeded" on an empty stream (the
  * r11 10× rehearsal's streaming column: 0.2 s across the board).
  */
class StreamingDirSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.streamingSession()
  private val src = TestSpark.sf0001

  private lazy val dirLayout: String = {
    val d = java.nio.file.Files.createTempDirectory("sdir").toString
    // same rows, directory-of-part-files layout
    spark.read.parquet(s"$src/events.parquet").repartition(3)
      .write.parquet(s"$d/events.parquet")
    spark.read.parquet(s"$src/documents.parquet").repartition(3)
      .write.parquet(s"$d/documents.parquet")
    d
  }

  private def dump(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("events stream: directory layout equals single-file layout (st04)") {
    val single = dump(
      EventsStream.queries("st04_stream_stream_join")(spark, src))
    val multi = dump(
      EventsStream.queries("st04_stream_stream_join")(spark, dirLayout))
    assert(single.nonEmpty, "fixture must produce rows")
    assert(multi === single)
  }

  test("absent table: stream starts empty, reads rows when the file lands") {
    // third leg (r12 verdict): a table that does not exist YET is a
    // legitimate streaming start — streamRaw falls back to the glob form
    // (the direct-path probe would throw at plan time), the query begins
    // empty, and rows arrive when the single-file table materializes
    val dir = java.nio.file.Files.createTempDirectory("slate").toString
    val schema = spark.read.parquet(s"$src/documents.parquet").schema
    val df = graft.Tables.streamRaw(spark, dir, "documents", schema)
    val q = df.writeStream
      .option("checkpointLocation", TestSpark.checkpointDir())
      .format("memory").queryName("late_tbl").start()
    try {
      q.processAllAvailable()
      assert(spark.table("late_tbl").count() === 0L,
        "stream over an absent table must start empty, not fail")
      // land the table in the single-FILE layout the glob form matches:
      // write through Spark to scratch, move the one part file into place
      val scratch = java.nio.file.Files.createTempDirectory("slatew")
      spark.read.parquet(s"$src/documents.parquet").coalesce(1)
        .write.mode("overwrite").parquet(s"$scratch/out")
      val part = new java.io.File(s"$scratch/out").listFiles()
        .find(_.getName.endsWith(".parquet"))
        .getOrElse(fail("no part file written"))
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(dir, "documents.parquet"))
      q.processAllAvailable()
      val expected = spark.read.parquet(s"$src/documents.parquet").count()
      assert(spark.table("late_tbl").count() === expected)
    } finally q.stop()
  }

  test("documents stream: directory layout equals single-file layout (st05)") {
    val single = dump(
      CorpusStream.queries("st05_stream_clean_corpus")(spark, src))
    val multi = dump(
      CorpusStream.queries("st05_stream_clean_corpus")(spark, dirLayout))
    assert(single.nonEmpty, "fixture must produce rows")
    assert(multi === single)
  }
}
