package graft.operators

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The reliable-checkpoint root comparison in [[Checkpoints.truncate]]:
  * "already under the configured root" must be separator-anchored, or a
  * sibling directory whose name merely extends the root (`/mnt/ckpt-other`
  * vs root `/mnt/ckpt`) satisfies a bare startsWith and checkpoints land
  * outside the configured root (r10 ADVICE).
  */
class CheckpointsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a sibling dir sharing the root's name prefix does not count as under it") {
    val base = java.nio.file.Files.createTempDirectory("ckpt-prefix")
    val root = base.resolve("ckpt")
    val sibling = base.resolve("ckpt-other")
    java.nio.file.Files.createDirectories(root)
    java.nio.file.Files.createDirectories(sibling)
    val sc = spark.sparkContext
    val before = sc.getCheckpointDir
    // other code in the session set a checkpoint dir whose path extends
    // the configured root's name without being inside it
    sc.setCheckpointDir(sibling.toString)
    spark.conf.set("spark.graft.checkpoint.dir", root.toString)
    try {
      val df = spark.range(4).toDF("id")
      Checkpoints.truncate(df).collect()
      val cur = sc.getCheckpointDir.getOrElse("")
      assert(cur.contains("/ckpt/") || cur.endsWith("/ckpt"),
        s"checkpoint dir must be re-set under the configured root: $cur")
      assert(!cur.contains("ckpt-other"),
        s"sibling prefix dir must not satisfy the under-root test: $cur")
    } finally {
      spark.conf.unset("spark.graft.checkpoint.dir")
      before.foreach(sc.setCheckpointDir)
      org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
    }
  }

  test("releasing a superseded round deletes its files; the live round survives") {
    // the iterative-loop invariant in miniature: round N−1 is released
    // only after round N is materialized, so at most two rounds' file
    // sets ever coexist and the released one's files are gone IMMEDIATELY
    // (not at context stop — Spark never reclaims these on its own)
    val root = java.nio.file.Files.createTempDirectory("ckpt-gc")
    spark.conf.set("spark.graft.checkpoint.dir", root.toString)
    val sc = spark.sparkContext
    val before = sc.getCheckpointDir
    def rddDirs(): Set[String] = {
      val sub = java.nio.file.Files.list(root)
      val sessionDir =
        try sub.iterator().asScala.toSeq.headOption finally sub.close()
      sessionDir.map { d =>
        val l = java.nio.file.Files.list(d)
        try l.iterator().asScala.map(_.getFileName.toString).toSet
        finally l.close()
      }.getOrElse(Set.empty)
    }
    try {
      val round1 = Checkpoints.truncate(spark.range(100).toDF("id"))
      val round2 = Checkpoints.truncate(
        round1.selectExpr("id * 2 as id"))
      assert(rddDirs().size === 2, s"two live rounds expected: ${rddDirs()}")
      Checkpoints.release(round1)
      assert(rddDirs().size === 1,
        s"superseded round's files must be deleted now: ${rddDirs()}")
      // the live round is still fully readable from its own files
      assert(round2.agg(org.apache.spark.sql.functions.sum("id"))
        .head.getLong(0) === 9900L)
      Checkpoints.release(round2)
      assert(rddDirs().isEmpty, s"final release must reclaim: ${rddDirs()}")
    } finally {
      spark.conf.unset("spark.graft.checkpoint.dir")
      before.foreach(sc.setCheckpointDir)
      org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
    }
  }

  test("a dir genuinely under the root is not re-set (one shared subdir)") {
    val root = java.nio.file.Files.createTempDirectory("ckpt-shared")
    spark.conf.set("spark.graft.checkpoint.dir", root.toString)
    val sc = spark.sparkContext
    val before = sc.getCheckpointDir
    try {
      Checkpoints.truncate(spark.range(4).toDF("id")).collect()
      val first = sc.getCheckpointDir
      Checkpoints.truncate(spark.range(4).toDF("id")).collect()
      assert(sc.getCheckpointDir === first,
        "second truncate must reuse the session's checkpoint subdir")
    } finally {
      spark.conf.unset("spark.graft.checkpoint.dir")
      before.foreach(sc.setCheckpointDir)
      org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
    }
  }
}
