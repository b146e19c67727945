package graft.operators

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The lake commit protocol's contracts: expected-version CAS, crashed
  * writers invisible, time travel — the per-table version of the reference
  * manifest's per-file exactly-once ledger.
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

  test("crashed writer (data dir, no commit) is invisible") {
    val t = freshTable()
    import spark.implicits._
    TxLog.write(spark, t, Seq((1, "a")).toDF("k", "v"), 0L)
    // simulate a crash: v2 data fully written, publish never happened
    Seq((2, "orphan")).toDF("k", "v").write.parquet(s"$t/v2")
    assert(TxLog.latestVersion(t).contains(1L))
    assert(TxLog.read(spark, t).as[(Int, String)].collect().toSet ==
      Set((1, "a")))
  }

  test("1000 commits: the head is one listing, no checkpoint files") {
    val t = freshTable()
    // log-protocol-only commits (no parquet behind the fake dirs — this
    // test exercises the metadata path, not the scan)
    (1 to 1000).foreach(v => TxLog.commit(t, v - 1, s"d$v"))
    assert(TxLog.latestVersion(t).contains(1000L))
    val log = java.nio.file.Paths.get(t, "_txlog")
    assert(!Files.exists(log.resolve("_last_checkpoint")))
    val listing = Files.list(log)
    val checkpoints =
      try listing.iterator().asScala
        .count(_.getFileName.toString.endsWith(".checkpoint.json"))
      finally listing.close()
    assert(checkpoints === 0)
    assert(TxLog.commitRecord(t, 995L).dataDir == "d995")
  }

  test("a leftover `_last_checkpoint` pointer is ignored") {
    val t = freshTable()
    (1 to 20).foreach(v => TxLog.commit(t, v - 1, s"d$v"))
    val log = java.nio.file.Paths.get(t, "_txlog")
    // a log written by a build that kept a checkpoint pointer, left
    // rewound below the head
    Files.write(log.resolve("_last_checkpoint"),
      """{"version":10}""".getBytes("UTF-8"))
    // the head comes from the listing of the commit files, so it is 20
    assert(TxLog.latestVersion(t).contains(20L))
    // a commit against the stale head must CAS-fail, not mint version 11
    intercept[TxLog.CommitConflict] { TxLog.commit(t, 10L, "fork") }
    assert(TxLog.commit(t, 20L, "d21") == 21L)
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

  test("scheme-prefixed roots are rejected by TxLog.commit") {
    // a "file:/..." root split-brains the java.nio log (CWD-relative
    // literal dir) from the Hadoop-side data (r15 review)
    // incl. a SINGLE-letter scheme — legal per RFC 3986, and on Linux an
    // "x:/t" relative dir named "x:" is pathological, so it's a scheme,
    // not a Windows-drive carve-out (r15 ADVICE)
    for (bad <- Seq("file:/mnt/lake/t", "hdfs://nn/lake/t", "s3a://b/t",
        "x:/mnt/lake/t")) {
      val e1 = intercept[IllegalArgumentException](TxLog.commit(bad, 0L, "d"))
      assert(e1.getMessage.contains("no URI scheme"))
    }
    // plain absolute and relative roots still pass the guard
    val t = freshTable()
    assert(TxLog.commit(t, 0L, "v1-x") === 1L)
  }
}
