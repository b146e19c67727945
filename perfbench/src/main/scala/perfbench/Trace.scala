package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans kept in memory. One client thread opens and closes them; each
  * span's id rides on the Spark local property [[SpanProp]], so every job
  * and stage the span causes (eager jobs, streaming micro-batches started
  * from it, broadcast threads) names its parent span. Events without the
  * property fall back to the innermost span whose interval holds them.
  */
final class Spans(spark: SparkSession) {
  import Spans._
  val all = ArrayBuffer[Span]()
  private var stack = List.empty[Span]

  def apply[A](kind: String, name: String)(body: => A): A = {
    val s = Span(all.size, stack.headOption.fold(-1)(_.id), kind, name,
      System.nanoTime(), System.currentTimeMillis())
    all += s
    stack ::= s
    spark.sparkContext.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      spark.sparkContext.setLocalProperty(SpanProp,
        stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** Innermost span whose wall-clock interval holds `ms`, or -1. */
  def at(ms: Long): Int = {
    var best = -1
    var i = all.size - 1
    while (i >= 0) {
      val s = all(i)
      if (s.startMs <= ms && ms <= s.endMs &&
          (best < 0 || depth(s.id) > depth(best))) best = s.id
      i -= 1
    }
    best
  }

  def depth(id: Int): Int = if (id < 0) 0 else 1 + depth(all(id).parent)

  /** Is `id` the span `anc` or one of its descendants? */
  def within(id: Int, anc: Int): Boolean =
    id >= 0 && (id == anc || within(all(id).parent, anc))
}

object Spans {
  val SpanProp = "perfbench.span"
  final case class Span(id: Int, parent: Int, kind: String, name: String,
      startNs: Long, startMs: Long) {
    var endNs: Long = startNs
    var endMs: Long = startMs
    def seconds: Double = (endNs - startNs) / 1e9
  }
}

/** What the listeners saw, keyed by the span that caused it. */
final class Collector(spans: Spans, scratchRoot: String)
    extends SparkListener with QueryExecutionListener {
  import Collector._
  val jobs = new ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentHashMap[(Int, Int), Stage]()
  val qes = new ConcurrentLinkedQueue[Qe]()
  val batches = new ConcurrentLinkedQueue[(Long, Long)]() // (end ms, duration ms)

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Spans.SpanProp)))
      .map(_.toInt).getOrElse(-1)

  // a job's call site is its final stage's name ("parquet at Tables.scala:23")
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobs.put(e.jobId, Job(e.jobId, spanOf(e.properties), e.time, site))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val i = e.stageInfo
    stages.put((i.stageId, i.attemptNumber()), Stage(spanOf(e.properties),
      i.submissionTime.getOrElse(System.currentTimeMillis())))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stages.get((e.stageId, e.stageAttemptId))).foreach { s =>
      s.synchronized {
        s.tasks += 1
        s.busyMs += e.taskInfo.finishTime - e.taskInfo.launchTime
        s.waitMs += math.max(0L, e.taskInfo.launchTime - s.submitMs)
      }
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stages.get((e.stageInfo.stageId, e.stageInfo.attemptNumber())))
      .foreach { s =>
        val m = e.stageInfo.taskMetrics
        if (m != null) s.synchronized {
          s.runMs = m.executorRunTime
          s.cpuNs = m.executorCpuTime
          s.inBytes = m.inputMetrics.bytesRead
          s.shReadBytes = m.shuffleReadMetrics.totalBytesRead
          s.shWriteBytes = m.shuffleWriteMetrics.bytesWritten
          s.spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe, durationNs)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe, 0L)

  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    val startMs =
      if (phases.isEmpty) System.currentTimeMillis() else phases.map(_.startTimeMs).min
    val scratchWrite = qe.logical.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand
          if c.outputPath.toUri.getPath.startsWith(scratchRoot) => true
    }.isDefined
    qes.add(Qe(startMs, phases.map(_.durationMs).sum, durationNs, scratchWrite))
  }

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    StreamRecorder.sink = null
  }

  /** Resolve every event's span once the run has ended. */
  def jobSpan(j: Job): Int = if (j.span >= 0) j.span else spans.at(j.startMs)
  def stageSpan(s: Stage): Int = if (s.span >= 0) s.span else spans.at(s.submitMs)
}

object Collector {
  final case class Job(id: Int, span: Int, startMs: Long, callSite: String) {
    @volatile var endMs: Long = startMs
  }
  final case class Stage(span: Int, submitMs: Long) {
    var tasks = 0L
    var busyMs = 0L
    var waitMs = 0L
    var runMs = 0L
    var cpuNs = 0L
    var inBytes = 0L
    var shReadBytes = 0L
    var shWriteBytes = 0L
    var spillBytes = 0L
  }
  final case class Qe(startMs: Long, planMs: Long, durationNs: Long,
      scratchWrite: Boolean)

  def attach(spark: SparkSession, spans: Spans, scratchRoot: String): Collector = {
    val c = new Collector(spans, scratchRoot)
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    StreamRecorder.sink = c.batches
    c
  }
}

/** Micro-batch progress of every streaming query. The queries run on
  * cloned sessions, each with its own listener bus, so the recorder is
  * installed through `spark.sql.streaming.streamingQueryListeners` (which
  * `newSession()` inherits) in traced runs and writes to [[sink]] while a
  * [[Collector]] is attached.
  */
final class StreamRecorder extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    Option(StreamRecorder.sink).foreach(
      _.add((System.currentTimeMillis(), e.progress.batchDuration)))
}

object StreamRecorder {
  @volatile var sink: ConcurrentLinkedQueue[(Long, Long)] = null
}

/** Per-span totals over a set of spans (and everything under them). */
final case class Work(jobs: Long, stages: Long, tasks: Long, busyS: Double,
    waitS: Double, runS: Double, cpuS: Double, inBytes: Long,
    shReadBytes: Long, shWriteBytes: Long, spillBytes: Long)

object Work {
  def of(c: Collector, spans: Spans, roots: Seq[Int]): Work = {
    def under(id: Int) = roots.exists(spans.within(id, _))
    val js = c.jobs.values.asScala.filter(j => under(c.jobSpan(j)))
    val ss = c.stages.values.asScala.filter(s => under(c.stageSpan(s)))
    Work(js.size, ss.size, ss.map(_.tasks).sum, ss.map(_.busyMs).sum / 1e3,
      ss.map(_.waitMs).sum / 1e3, ss.map(_.runMs).sum / 1e3,
      ss.map(_.cpuNs).sum / 1e9, ss.map(_.inBytes).sum,
      ss.map(_.shReadBytes).sum, ss.map(_.shWriteBytes).sum,
      ss.map(_.spillBytes).sum)
  }
}
