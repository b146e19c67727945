package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Job-level cost profiler for one declared query: runs it (after a warmup
  * pass and a scratch clear, mirroring Bench's methodology) with a
  * SparkListener recording every job's wall duration, so iterative
  * operators' per-round cost is measurable instead of guessed.
  * Usage: runMain graft.tools.QueryProbe <queryName> [sfDir]
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // experiment aid: SPARK_GRAFT_EXTRA_CONFS="k=v;k=v" for A/B conf probes
    val spark = ExtraConfs(builder).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = graft.SparkEntry.queries(name)
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    graft.operators.MinHashDedup.clearScratch()
    val starts =
      new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.put(e.jobId, (System.nanoTime(),
          Option(e.properties.getProperty("spark.job.description"))
            .orElse(Option(e.properties.getProperty("callSite.short")))
            .getOrElse("")))
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val (t0, desc) = starts.getOrDefault(e.jobId, (0L, "?"))
        val ms = (System.nanoTime() - t0) / 1e6
        jobs.add(f"JOB ${e.jobId}%4d ${ms}%8.1f ms  $desc")
      }
    })
    val t0 = System.nanoTime()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    val wallS = (System.nanoTime() - t0) / 1e9
    Thread.sleep(1000)
    jobs.forEach(println)
    println(f"PROBE $name wall=$wallS%.2f s jobs=${jobs.size}")
    graft.operators.MinHashDedup.clearScratch()
    spark.stop()
  }
}
