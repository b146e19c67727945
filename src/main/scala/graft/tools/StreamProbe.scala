package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Micro-batch cost profiler for the streaming queries: runs one declared
  * query (after a warmup pass) with a [[StreamingQueryListener]] capturing
  * each batch's `durationMs` breakdown (triggerExecution, queryPlanning,
  * walCommit, commitOffsets, addBatch, getBatch, latestOffset), so the
  * fixed machinery cost per micro-batch is measurable instead of guessed.
  * Usage: runMain graft.tools.StreamProbe <queryName> [sfDir]
  */
object StreamProbe {
  // static sink: the streaming queries run on CLONED sessions (each with
  // its own StreamingQueryManager/listener bus), so a listener registered
  // on the outer session never sees their progress — instead the listener
  // class below is installed via spark.sql.streaming.streamingQueryListeners
  // (inherited by newSession()) and records into this shared queue.
  val events =
    new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()

  class Recorder extends StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit =
      events.add((e.progress.batchId, e.progress.json))
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.streamingQueryListeners",
        "graft.tools.StreamProbe$Recorder")
      .config("spark.ui.enabled", "false")
    // experiment aid (QueryProbe's convention): SPARK_GRAFT_EXTRA_CONFS=
    // "k=v;k=v" for A/B conf probes. Builder configs land in the shared
    // SparkConf, so the per-query CLONED sessions inherit them — the only
    // way to A/B a conf (e.g. the state-store provider) that must reach
    // the stream's own session.
    val spark = ExtraConfs(builder).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = graft.SparkEntry.queries(name)
    // warmup (JIT + page cache), mirroring Bench's steady-state methodology
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    graft.operators.MinHashDedup.clearScratch()
    events.clear()
    val t0 = System.nanoTime()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    val wallS = (System.nanoTime() - t0) / 1e9
    // listener bus is async; give it a moment to drain
    Thread.sleep(2000)
    events.forEach { case (id, json) => println(s"BATCH $id: $json") }
    println(f"PROBE $name wall=$wallS%.2f s batches=${events.size}")
    graft.operators.MinHashDedup.clearScratch()
    spark.stop()
  }
}
