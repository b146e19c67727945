package graft.operators

import java.util.concurrent.{CountDownLatch, CyclicBarrier, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.udf
import org.scalatest.funsuite.AnyFunSuite

/** Static gates for the blocking-build leg: the UDF body runs in executor
  * task threads (same JVM in local mode), so plain JVM latches coordinate
  * the spec thread with the in-flight scratch WRITE.
  */
object ScratchGates {
  @volatile var entered: CountDownLatch = _
  @volatile var release: CountDownLatch = _
  @volatile var fail: Boolean = false

  def block(x: Long): Long = {
    entered.countDown()
    // bounded: a deadlocked spec must time out loudly, not hang the JVM
    require(release.await(60, TimeUnit.SECONDS), "release latch timed out")
    x
  }

  def failable(x: Long): Long = {
    if (fail) throw new RuntimeException("injected build failure")
    x
  }
}

/** Concurrency contract of the FutureTask scratch cache (r17 verdict #3):
  * the r17 fix moved the corpus-sized write OUT of computeIfAbsent (which
  * held the CHM bin lock for the build's whole duration) into a FutureTask
  * the map only CREATES under the lock. The three behaviors that fix
  * exists for are pinned here: unrelated tags build concurrently,
  * same-key concurrent callers share ONE build, and a failed build evicts
  * so a retry rebuilds (including through the peek path — r17 ADVICE).
  */
class ScratchCacheSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  /** Runs `body` with scratch redirected to a fresh temp dir; conf is
    * restored so other suites keep the default scratch root.
    */
  private def withScratchDir[A](body: java.nio.file.Path => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft-scratch-spec")
    spark.conf.set("spark.graft.scratch.dir", dir.toString)
    try body(dir)
    finally {
      spark.conf.unset("spark.graft.scratch.dir")
      Scratch.clear()
    }
  }

  /** Scratch dirs minted under `root` for `tag` — one per actual build. */
  private def buildDirs(root: java.nio.file.Path, tag: String): Seq[String] = {
    val s = java.nio.file.Files.list(root)
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith(s"graft_${tag}_")).toSeq
    finally s.close()
  }

  private def causeChain(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq

  test("unrelated tags materialize concurrently — no cross-tag serialization") {
    withScratchDir { root =>
      import spark.implicits._
      ScratchGates.entered = new CountDownLatch(1)
      ScratchGates.release = new CountDownLatch(1)
      val blocker = udf(ScratchGates.block _)
      val blockingDf = spark.range(1).select(blocker($"id").as("v"))
      @volatile var aErr: Throwable = null
      val a = new Thread(() =>
        try Scratch.materialized(blockingDf, "conc_a", "k")
        catch { case t: Throwable => aErr = t })
      a.start()
      try {
        // wait until tag A's build is INSIDE its scratch write…
        assert(ScratchGates.entered.await(60, TimeUnit.SECONDS),
          "tag A's build never started")
        // …then a DIFFERENT tag must build to completion while A is still
        // blocked (the pre-r17 in-computeIfAbsent write serialized exactly
        // here, for the whole build, on a hash-bin collision)
        val b = Scratch.materialized(
          spark.range(5).toDF("v"), "conc_b", "k")
        assert(b.count() === 5L)
        assert(a.isAlive, "tag A should still be mid-build")
      } finally ScratchGates.release.countDown()
      a.join(60000)
      assert(!a.isAlive, "tag A never finished after release")
      assert(aErr == null, s"tag A build failed: $aErr")
      assert(buildDirs(root, "conc_a").size === 1)
      assert(buildDirs(root, "conc_b").size === 1)
    }
  }

  test("same-key concurrent callers share ONE build") {
    withScratchDir { root =>
      import spark.implicits._
      val df = spark.range(100).toDF("v")
      val n = 4
      val barrier = new CyclicBarrier(n)
      val errs = java.util.concurrent.ConcurrentHashMap.newKeySet[Throwable]()
      val counts = new java.util.concurrent.atomic.AtomicLong(0)
      val threads = (1 to n).map(_ => new Thread(() =>
        try {
          barrier.await(30, TimeUnit.SECONDS)
          counts.addAndGet(
            Scratch.materialized(df, "conc_c", "k").count())
        } catch { case t: Throwable => errs.add(t) })).toSeq
      threads.foreach(_.start())
      threads.foreach(_.join(60000))
      assert(errs.isEmpty, errs.toString)
      assert(counts.get() === 400L, "every caller must read the full table")
      assert(buildDirs(root, "conc_c").size === 1,
        "concurrent same-key callers must produce exactly one build")
    }
  }

  test("a failed build evicts: peek misses and a retry rebuilds") {
    withScratchDir { root =>
      import spark.implicits._
      ScratchGates.fail = true
      val f = udf(ScratchGates.failable _)
      val df = spark.range(3).select(f($"id").as("v"))
      val ex = intercept[Throwable] {
        Scratch.materialized(df, "conc_f", "k")
      }
      assert(causeChain(ex).exists(c =>
        Option(c.getMessage).exists(_.contains("injected"))), ex.toString)
      // the poisoned entry must not serve peeks (and the peek itself
      // evicts a failed-done task it finds — r17 ADVICE)
      assert(Scratch.peek(spark, "conc_f", "k", Seq(df)).isEmpty)
      // the retry REBUILDS (same key: the df's lineage fingerprint is
      // unchanged) instead of rethrowing the stale failure forever
      ScratchGates.fail = false
      val ok = Scratch.materialized(df, "conc_f", "k")
      assert(ok.count() === 3L)
      assert(buildDirs(root, "conc_f").size === 2,
        "failed attempt + successful rebuild each mint a dir")
      // and the successful build is now a cache hit for peeks
      assert(Scratch.peek(spark, "conc_f", "k", Seq(df)).isDefined)
    }
  }
}
