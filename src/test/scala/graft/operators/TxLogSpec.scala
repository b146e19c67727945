package graft.operators

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The lake commit protocol's contracts: expected-version CAS, crashed
  * writers invisible, time travel, vacuum safety — the per-table version of
  * the reference manifest's per-file exactly-once ledger.
  */
class TxLogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshTable(): String = {
    val dir = Files.createTempDirectory("txlog").toString
    Scratch.registerDir(dir)
    dir
  }

  test("write/read round-trip and version monotonicity") {
    val t = freshTable()
    import spark.implicits._
    assert(TxLog.latestVersion(t).isEmpty)
    val v1 = TxLog.write(spark, t, Seq((1, "a"), (2, "b")).toDF("k", "v"), 0L)
    assert(v1 == 1L)
    val v2 = TxLog.write(spark, t, Seq((1, "a2")).toDF("k", "v"), v1)
    assert(v2 == 2L)
    assert(TxLog.latestVersion(t).contains(2L))
    assert(TxLog.read(spark, t).count() == 1L)
  }

  test("commit records escape caller-supplied strings (quotes in action)") {
    // the record used to be raw string interpolation: a quote in `action`
    // wrote invalid JSON that bricked every later read of the version
    // (r10 review)
    val t = freshTable()
    import spark.implicits._
    TxLog.write(spark, t, Seq((1, "a")).toDF("k", "v"), 0L,
      action = """restore "gold" snapshot\path""")
    assert(TxLog.commitRecord(t, 1L).action === """restore "gold" snapshot\path""")
    assert(TxLog.read(spark, t).count() === 1L)
  }

  test("expected-version CAS rejects a stale writer; its data dir is inert") {
    val t = freshTable()
    import spark.implicits._
    TxLog.write(spark, t, Seq((1, "a")).toDF("k", "v"), 0L)
    // stale writer prepared against version 0 but 1 is now current
    val err = intercept[TxLog.CommitConflict] {
      TxLog.write(spark, t, Seq((9, "stale")).toDF("k", "v"), 0L)
    }
    assert(err.version == 1L)
    // reader never sees the loser's rows
    assert(TxLog.read(spark, t).as[(Int, String)].collect().toSet ==
      Set((1, "a")))
  }

  test("put-if-absent link is the CAS: same expected version, one winner") {
    val t = freshTable()
    import spark.implicits._
    TxLog.write(spark, t, Seq((0, "base")).toDF("k", "v"), 0L)
    // both writers pre-stage data dirs against expected=1, then race the
    // publish step itself (bypassing the early latestVersion fast-fail)
    Seq((1, "w1")).toDF("k", "v").write.parquet(s"$t/cand1")
    Seq((2, "w2")).toDF("k", "v").write.parquet(s"$t/cand2")
    val pool = Executors.newFixedThreadPool(2)
    val go = new CountDownLatch(1)
    def racer(dir: String) = pool.submit(new java.util.concurrent.Callable[Option[Long]] {
      def call(): Option[Long] = {
        go.await()
        try Some(TxLog.commit(t, 1L, dir)) catch {
          case _: TxLog.CommitConflict => None
        }
      }
    })
    val (f1, f2) = (racer("cand1"), racer("cand2"))
    go.countDown()
    val results = Seq(f1, f2).map(_.get(30, TimeUnit.SECONDS))
    pool.shutdown()
    assert(results.count(_.isDefined) == 1, s"exactly one winner: $results")
    assert(TxLog.latestVersion(t).contains(2L))
    val winner = TxLog.commitRecord(t, 2L).dataDir
    assert(Set("cand1", "cand2").contains(winner))
    assert(TxLog.read(spark, t).count() == 1L)
  }

  test("crashed writer (data dir, no commit) is invisible; vacuum removes it") {
    val t = freshTable()
    import spark.implicits._
    TxLog.write(spark, t, Seq((1, "a")).toDF("k", "v"), 0L)
    // simulate a crash: v2 data fully written, publish never happened
    Seq((2, "orphan")).toDF("k", "v").write.parquet(s"$t/v2")
    assert(TxLog.latestVersion(t).contains(1L))
    assert(TxLog.read(spark, t).as[(Int, String)].collect().toSet ==
      Set((1, "a")))
    // default retention: a just-written dir is indistinguishable from an
    // IN-FLIGHT writer's staging dir, so vacuum must not touch it
    assert(TxLog.vacuum(t).isEmpty)
    assert(Files.isDirectory(java.nio.file.Paths.get(t, "v2")))
    // retainMs = 0 (offline maintenance, no concurrent writers) reclaims it
    val removed = TxLog.vacuum(t, retainMs = 0L)
    assert(removed == Seq("v2"))
    assert(!Files.isDirectory(java.nio.file.Paths.get(t, "v2")))
    // committed data untouched
    assert(TxLog.read(spark, t).count() == 1L)
  }

  test("1000 commits: checkpoint pointer + probe read; cleanup caps the log") {
    val t = freshTable()
    // log-protocol-only commits (no parquet behind the fake dirs — this
    // test exercises the metadata path, not the scan)
    (1 to 1000).foreach(v => TxLog.commit(t, v - 1, s"d$v"))
    assert(TxLog.latestVersion(t).contains(1000L))
    val log = java.nio.file.Paths.get(t, "_txlog")
    assert(Files.isRegularFile(log.resolve("_last_checkpoint")))
    assert(Files.isRegularFile(
      log.resolve(f"${1000L}%020d.checkpoint.json")))
    // drop the 989 plain commit files below the v990 checkpoint: the head
    // is still found via pointer + forward probes — the read path provably
    // does not depend on listing (or even having) the cleaned files
    val dropped = TxLog.cleanupBefore(t, 990L)
    assert(dropped.size == 989)
    assert(TxLog.latestVersion(t).contains(1000L))
    assert(TxLog.commitRecord(t, 995L).dataDir == "d995")
    // a checkpointed version below the horizon survives via its checkpoint
    assert(TxLog.commitRecord(t, 980L).dataDir == "d980")
    // a non-checkpointed cleaned version is gone — the documented trade
    intercept[java.nio.file.NoSuchFileException] {
      TxLog.commitRecord(t, 985L)
    }
    // cleanup refuses a horizon with no checkpoint anchor at/above it
    TxLog.commit(t, 1000L, "d1001")
    intercept[IllegalArgumentException] {
      TxLog.cleanupBefore(t, 1001L)
    }
  }

  test("stale pointer + cleanup cannot fork the log (pointer re-anchors)") {
    val t = freshTable()
    (1 to 20).foreach(v => TxLog.commit(t, v - 1, s"d$v"))
    val log = java.nio.file.Paths.get(t, "_txlog")
    // a checkpointer that wrote its checkpoint, slept, then moved the
    // pointer AFTER newer checkpoints landed: simulate the rewind a
    // non-monotonic move would have allowed
    Files.write(log.resolve("_last_checkpoint"),
      """{"version":10}""".getBytes("UTF-8"))
    // cleanup to the v20 checkpoint must re-anchor the pointer first;
    // otherwise latestVersion probes from 10 into the deleted 11..19
    // range, reports a stale head, and the next commit forks the log
    TxLog.cleanupBefore(t, 20L)
    assert(TxLog.latestVersion(t).contains(20L))
    // a commit against the stale head must CAS-fail, not mint version 11
    intercept[TxLog.CommitConflict] { TxLog.commit(t, 10L, "fork") }
    assert(TxLog.commit(t, 20L, "d21") == 21L)
    // and the in-commit pointer move itself refuses to rewind: pointer
    // stays >= 20 even though checkpointHint guards pass for version 10
    assert(new String(Files.readAllBytes(log.resolve("_last_checkpoint")),
      "UTF-8").contains("20"))
  }

  test("pointer moves are serialized: stale checkpointers racing cleanup never rewind") {
    val t = freshTable()
    (1 to 100).foreach(v => TxLog.commit(t, v - 1, s"d$v")) // ckpts 10..100
    val log = java.nio.file.Paths.get(t, "_txlog")
    def pointerVersion(): Long = {
      val txt = new String(Files.readAllBytes(log.resolve("_last_checkpoint")),
        "UTF-8")
      """\d+""".r.findFirstIn(txt).get.toLong
    }
    assert(pointerVersion() == 100L)
    // rewind the pointer to a stale-but-valid anchor so the racing movers
    // below actually enter the move path (a pointer already at 100 would
    // short-circuit every check and exercise nothing)
    Files.write(log.resolve("_last_checkpoint"),
      """{"version":10}""".getBytes("UTF-8"))
    // 8 stale checkpointers replay old (checkpointed) versions while the
    // main thread runs cleanups (which re-anchor to 100) — the FileLock'd
    // check-then-move must end at the high-water mark through every
    // interleaving; the unlocked shape could pass a low check, pause, and
    // clobber the re-anchored pointer back down
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val futures = (0 until 8).map { i =>
      pool.submit(new Runnable {
        def run(): Unit =
          (1 to 25).foreach(j =>
            TxLog.movePointerForward(t, ((i + j) % 10 + 1) * 10L))
      })
    }
    (1 to 5).foreach(_ => TxLog.cleanupBefore(t, 100L))
    futures.foreach(_.get())
    pool.shutdown()
    assert(pointerVersion() == 100L)
    assert(TxLog.latestVersion(t).contains(100L))
  }

  test("vacuum tolerates a concurrently-cleaned version; keeps checkpointed data") {
    val t = freshTable()
    // vacuum only considers v-prefixed dirs (the writer naming scheme)
    (1 to 20).foreach(v => TxLog.commit(t, v - 1, s"v$v-x"))
    (1 to 20).foreach { v =>
      Files.createDirectories(java.nio.file.Paths.get(t, s"v$v-x"))
    }
    TxLog.cleanupBefore(t, 20L) // plain commits 1..19 gone; ckpts 10, 20 stay
    // committed set = checkpoint-referenced v10-x + head v20-x; cleaned,
    // non-checkpointed versions' dirs are the documented orphans
    val removed = TxLog.vacuum(t, retainMs = 0L).toSet
    assert(!removed.contains("v10-x") && !removed.contains("v20-x"), removed)
    assert(removed == (1 to 19).filter(_ != 10).map(v => s"v$v-x").toSet)
  }

  test("time travel pins any committed version") {
    val t = freshTable()
    import spark.implicits._
    TxLog.write(spark, t, Seq((1, "v1")).toDF("k", "v"), 0L)
    TxLog.write(spark, t, Seq((1, "v2"), (2, "v2")).toDF("k", "v"), 1L)
    TxLog.write(spark, t, Seq((3, "v3")).toDF("k", "v"), 2L)
    assert(TxLog.readVersion(spark, t, 1L).as[(Int, String)]
      .collect().toSet == Set((1, "v1")))
    assert(TxLog.readVersion(spark, t, 2L).count() == 2L)
    assert(TxLog.read(spark, t).as[(Int, String)].collect().toSet ==
      Set((3, "v3")))
  }

  test("scheme-prefixed roots are rejected by TxLog itself, not just the sink") {
    // a "file:/..." root split-brains the java.nio log (CWD-relative
    // literal dir) from the Hadoop-side data; the guard used to live only
    // in TableSink.overwrite while TxLog's own public mutating entries
    // accepted the path (r15 review)
    // incl. a SINGLE-letter scheme — legal per RFC 3986, and on Linux an
    // "x:/t" relative dir named "x:" is pathological, so it's a scheme,
    // not a Windows-drive carve-out (r15 ADVICE)
    for (bad <- Seq("file:/mnt/lake/t", "hdfs://nn/lake/t", "s3a://b/t",
        "x:/mnt/lake/t")) {
      val e1 = intercept[IllegalArgumentException](TxLog.commit(bad, 0L, "d"))
      assert(e1.getMessage.contains("no URI scheme"))
      assert(intercept[IllegalArgumentException](TxLog.vacuum(bad, 0L))
        .getMessage.contains("no URI scheme"))
      assert(intercept[IllegalArgumentException](TxLog.cleanupBefore(bad, 1L))
        .getMessage.contains("no URI scheme"))
    }
    // plain absolute and relative roots still pass the guard
    val t = freshTable()
    assert(TxLog.commit(t, 0L, "v1-x") === 1L)
  }
}
