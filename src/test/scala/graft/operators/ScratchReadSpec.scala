package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.ReadJobs.{assertSameAsPlainRead, jobsDuring}

/** Scratch read-backs ([[MinHashDedup.materialized]],
  * [[MinHashDedup.cachedScratch]]) take their schema from one parquet
  * footer read on the driver ([[graft.ParquetRead]]): a build launches only
  * its write, and a cache hit launches nothing.
  */
class ScratchReadSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  test("a scratch build launches only its write; a cache hit launches " +
    "nothing") {
    val root = java.nio.file.Files.createTempDirectory("graft-scratch-read")
    spark.conf.set("spark.graft.scratch.dir", root.toString)
    try {
      val df = spark.range(5).selectExpr("id", "cast(id * 2 AS string) AS s")
      val (built, buildJobs) =
        jobsDuring(MinHashDedup.materialized(df, "scratch_read", "k"))
      assert(buildJobs === 1)
      val dir = built.inputFiles.head.replaceAll("/[^/]+$", "")
      assertSameAsPlainRead(built, dir)
      val (hit, hitJobs) = jobsDuring(
        MinHashDedup.cachedScratch(spark, "scratch_read", "k", Nil))
      assert(hitJobs === 0)
      assert(hit.isDefined)
      assertSameAsPlainRead(hit.get, dir)
    } finally {
      spark.conf.unset("spark.graft.scratch.dir")
      MinHashDedup.clearScratch()
    }
  }
}
