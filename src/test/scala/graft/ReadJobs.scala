package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.Assertions._

/** Shared checks for reads that go through [[ParquetRead]]. */
object ReadJobs {
  private lazy val spark = TestSpark.spark

  /** `got` has the schema and rows of `spark.read.parquet(path)`. */
  def assertSameAsPlainRead(got: DataFrame, path: String): Unit = {
    val plain = spark.read.parquet(path)
    assert(got.schema === plain.schema)
    assert(got.collect().map(_.toString).sorted ===
      plain.collect().map(_.toString).sorted)
  }

  /** (result, jobs started while `body` ran). Jobs are told apart by a job
    * group on this thread; a marker job in a second group flushes the
    * listener bus, which delivers events in order.
    */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"read-jobs-${java.util.UUID.randomUUID}"
    val seen = new ConcurrentLinkedQueue[Int]()
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => seen.add(e.jobId)
          case Some(g) if g == s"$group-flush" => flushed.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "parquet read")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-flush", "listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, TimeUnit.SECONDS), "listener bus never flushed")
      (out, seen.size)
    } finally sc.removeSparkListener(listener)
  }
}
