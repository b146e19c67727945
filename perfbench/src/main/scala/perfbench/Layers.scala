package perfbench

import java.nio.file.Files

/** The per-layer metrics of the traced run. Every workload reports every
  * name; a layer the workload bypasses reads 0 (the pipeline and the lake
  * on `suite`; `graft.Tables`, the scratch layer and streaming on
  * `rfb_month`).
  */
object Layers {
  /** The query-name prefixes the suite has members of. */
  val Families: Seq[String] =
    Seq("q", "tx", "st", "dd", "ss", "ts", "mm", "gr", "pa", "vr")

  val names: Seq[(String, String)] =
    Seq("plan", "download", "extract", "fix", "load", "report")
      .map(p => (s"pipeline.${p}_s", "s")) ++ Seq(
      ("pipeline.rows_per_s", "1/s"),
      ("pipeline.fix.jobs", "count"), ("pipeline.fix.tasks", "count"),
      ("pipeline.fix.executor_cpu_s", "s"), ("pipeline.fix.bytes_written", "bytes"),
      ("pipeline.load.jobs", "count"), ("pipeline.load.tasks", "count"),
      ("pipeline.load.executor_cpu_s", "s"), ("pipeline.load.read_bytes", "bytes"),
      ("pipeline.load.scan_passes", "ratio"),
      ("pipeline.load.output_bytes", "bytes"), ("pipeline.load.output_files", "count"),
      ("lake.bytes_per_input_byte", "ratio"),
      ("lake.construct_s", "s"), ("lake.plan_s", "s"), ("lake.exec_s", "s"),
      ("lake.jobs", "count"), ("lake.tasks", "count"), ("lake.input_bytes", "bytes"),
      ("tables.schema_jobs", "count"), ("tables.schema_s", "s"),
      ("query.construct_s", "s"), ("query.plan_s", "s"), ("query.exec_s", "s"),
      ("query.eager_jobs", "count"), ("query.jobs", "count"),
      ("query.stages", "count"), ("query.tasks", "count"),
      ("query.task_wait_s", "s"), ("query.slot_busy_share", "share"),
      ("query.executor_run_s", "s"), ("query.executor_cpu_s", "s"),
      ("query.input_bytes", "bytes"), ("query.shuffle_read_bytes", "bytes"),
      ("query.shuffle_write_bytes", "bytes"), ("query.spill_bytes", "bytes"),
      ("scratch.build_s", "s"), ("scratch.bytes_written", "bytes"),
      ("streaming.batches", "count"), ("streaming.batch_s", "s")) ++
      Families.flatMap(f => Seq((s"family.$f.wall_s", "s"), (s"family.$f.jobs", "count"))) ++
      Seq(("host.control_trio_s", "s"), ("trace.overhead_share", "share"))

  /** Every name, in order, with 0 where `m` has no reading. */
  def all(m: Map[String, Double]): Seq[(String, Double, String)] = {
    val unknown = m.keySet -- names.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
    names.map { case (n, u) => (n, m.getOrElse(n, 0.0), u) }
  }

  def family(q: String): String = q.takeWhile(c => !c.isDigit)

  /** Query-path layers of one traced suite pass. */
  def suite(l: LayerTotals, cpus: Int, scratchBytes: Long): Map[String, Double] = {
    val qs = l.ofKind("query")
    val cons = l.ofKind("construct")
    val acts = l.ofKind("action")
    val w = l.work(qs)
    val wallS = qs.map(_.seconds).sum
    val planS = l.planS(acts)
    val (schemaJobs, schemaS) = l.schemaJobs
    val (batches, batchS) = l.streaming(qs)
    val fam = Families.flatMap { f =>
      val mine = qs.filter(s => family(s.name) == f)
      Seq(s"family.$f.wall_s" -> mine.map(_.seconds).sum,
        s"family.$f.jobs" -> l.work(mine).jobs.toDouble)
    }
    Map(
      "tables.schema_jobs" -> schemaJobs.toDouble, "tables.schema_s" -> schemaS,
      "query.construct_s" -> cons.map(_.seconds).sum,
      "query.plan_s" -> planS,
      "query.exec_s" -> (acts.map(_.seconds).sum - planS),
      "query.eager_jobs" -> l.work(cons).jobs.toDouble,
      "query.jobs" -> w.jobs.toDouble, "query.stages" -> w.stages.toDouble,
      "query.tasks" -> w.tasks.toDouble, "query.task_wait_s" -> w.waitS,
      "query.slot_busy_share" -> (if (wallS > 0) w.busyS / (wallS * cpus) else 0.0),
      "query.executor_run_s" -> w.runS, "query.executor_cpu_s" -> w.cpuS,
      "query.input_bytes" -> w.inBytes.toDouble,
      "query.shuffle_read_bytes" -> w.shReadBytes.toDouble,
      "query.shuffle_write_bytes" -> w.shWriteBytes.toDouble,
      "query.spill_bytes" -> w.spillBytes.toDouble,
      "scratch.build_s" -> l.scratchBuildS,
      "scratch.bytes_written" -> scratchBytes.toDouble,
      "streaming.batches" -> batches.toDouble, "streaming.batch_s" -> batchS) ++ fam
  }

  def common(trioS: Double, overhead: Double): Map[String, Double] =
    Map("host.control_trio_s" -> trioS, "trace.overhead_share" -> overhead)
}

/** Writes the traced repetition's spans when the run ends. */
object Trace {
  def write(a: Main.Args, l: LayerTotals): Unit = {
    val dir = a.work.getParent.resolve("traces")
    Files.createDirectories(dir)
    Files.write(dir.resolve(s"${a.workload}-seed${a.seed}.json"),
      l.spansJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
