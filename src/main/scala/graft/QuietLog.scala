package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The log set-up of Verify, Bench and the specs: WARN, with each logger
  * whose only WARN lines in a Verify run report an expected condition
  * raised to ERROR, so a real failure stays in the kept log tail.
  */
object QuietLog {
  private val ExpectedOnly = Seq(
    // "lineage has been truncated", on every Checkpoints.release of a
    // localCheckpoint'ed round
    "org.apache.spark.rdd.MapPartitionsRDD",
    // "No Partition Defined for Window operation", on every window query
    // without partitionBy (global rankings and running totals)
    "org.apache.spark.sql.execution.window.WindowExec",
    // "Failed to cancel job group", twice on every StreamingQuery.stop()
    // after processAllAvailable() has left the query with no active job
    "org.apache.spark.scheduler.DAGScheduler",
    // "Disabling AQE since AQE is not supported in stateful workloads", on
    // every stateful streaming query, even with AQE already off
    "org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution")

  def apply(spark: SparkSession): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    ExpectedOnly.foreach(Configurator.setLevel(_, Level.ERROR))
  }
}
