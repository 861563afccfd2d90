package graftbench

import java.nio.file.{Files, Path}

/** Per-layer figures of one traced pass, read from its spans, the jobs
  * and tasks attributed to them, and the plans analysed in its window.
  * A layer the workload does not call reads 0.
  */
object Layers {

  type Metric = (String, Double, String)

  val Stages = Seq("validate", "exact_dedup", "near_dedup", "quality_gate",
    "decontaminate", "sample", "pack")

  def perPass(w: Workload, tr: Tracer, ledger: TaskLedger, plans: PlanLedger,
      pass: Pass, passRoot: Long, resumeRoot: Long, fromMs: Long, toMs: Long,
      cores: Int): Seq[Metric] = {
    val spans = tr.spans
    val passIds = Tracer.subtree(spans, passRoot)
    val inPass = spans.filter(s => passIds(s.id))
    val resumeIds = Tracer.subtree(spans, resumeRoot)
    val inResume = spans.filter(s => resumeIds(s.id))
    def named(n: String, in: Seq[Span] = inPass) = in.filter(_.name == n)
    def secs(n: String, in: Seq[Span] = inPass) = named(n, in).map(_.seconds).sum
    def below(ss: Seq[Span]) = ss.flatMap(s => Tracer.subtree(spans, s.id)).toSet
    def per(x: Double, n: Int) = if (n == 0) 0.0 else x / n

    val rows = w.rows.toDouble
    val writes = named("runner.write")
    val units = writes.size
    val engine = ledger.sum(below(writes))
    val commitJobs = ledger.sum(below(named("runner.commit"))).jobs
    val engineCpu = engine.cpuNs / 1e9
    val runs = named("runner.run")
    val runWall = runs.map(_.seconds).sum
    val checks = inPass.filter(_.name.startsWith("checks."))
    val all = ledger.sum(passIds)
    val facts = w.compileFacts

    Seq[Metric](
      ("spec.parse_s", pass.layer.getOrElse("spec.parse_s", 0.0), "s"),
      ("compile.constraints", facts.getOrElse("compile.constraints", 0.0), "count"),
      ("compile.hof_checks", facts.getOrElse("compile.hof_checks", 0.0), "count"),
      ("compile.plan_s", plans.secondsWithin(fromMs, toMs), "s"),
      ("engine.task_cpu_s", engineCpu, "s"),
      ("engine.gc_s", engine.gcMs / 1e3, "s"),
      ("engine.rows_per_cpu_s", if (engineCpu > 0) rows / engineCpu else 0.0, "rows/s"),
      ("engine.scan_amplification", if (units > 0) engine.inRecords / rows else 0.0, "ratio"),
      ("engine.violation_rows", engine.outRecords.toDouble, "count"),
      ("runner.units", units.toDouble, "count"),
      ("runner.jobs_per_unit", per((engine.jobs + commitJobs).toDouble, units), "count"),
      ("runner.write_s", per(secs("runner.write"), units), "s"),
      ("runner.commit_s", per(secs("runner.commit"), units), "s"),
      ("runner.completed_units_s", secs("runner.completed_units", inResume), "s"),
      ("runner.driver_self_s", runs.map(Tracer.selfSeconds(_, spans)).sum, "s"),
      ("runner.slot_busy_frac",
        if (runWall > 0) pass.units.sum / (Workload.Concurrency * runWall) else 0.0, "fraction"),
      ("checks.uniqueness_s", secs("checks.uniqueness"), "s"),
      ("checks.referential_s", secs("checks.referential"), "s"),
      ("checks.consistency_s", secs("checks.consistency"), "s"),
      ("checks.drift_s", secs("checks.drift"), "s"),
      ("checks.shuffle_write_bytes", ledger.sum(below(checks)).shuffleWrite.toDouble, "B")
    ) ++ Stages.map(s => (s"assembly.${s}_s", pass.layer.getOrElse(s"assembly.${s}_s", 0.0), "s")) ++
    Seq[Metric](
      ("assembly.eager_jobs",
        ledger.sum(below(named("assembly.run")) -- below(named("stageio.write"))).jobs.toDouble,
        "count"),
      ("stageio.write_s", secs("stageio.write"), "s"),
      ("stageio.read_s", secs("stageio.read"), "s"),
      ("stageio.commit_s", secs("stageio.commit"), "s"),
      ("spark.jobs", all.jobs.toDouble, "count"),
      ("spark.tasks", all.tasks.toDouble, "count"),
      ("spark.task_cpu_s", all.cpuNs / 1e9, "s"),
      ("spark.cpu_busy_frac", all.cpuNs / 1e9 / (cores * pass.wall), "fraction"),
      ("spark.gc_s", all.gcMs / 1e3, "s"),
      ("spark.shuffle_write_bytes", all.shuffleWrite.toDouble, "B"),
      ("spark.spill_bytes", all.spill.toDouble, "B"),
      ("spark.input_bytes", all.inBytes.toDouble, "B"),
      ("spark.output_bytes", all.outBytes.toDouble, "B"),
      ("spark.task_skew", ledger.skew(passIds), "ratio"))
  }

  /** The kernel reference point (measured on validate_bulk only). */
  def reference(ref: Map[String, Double]): Seq[Metric] = Seq(
    ("engine.noop_parquet_s", "s"), ("engine.noop_parquet_rows_per_cpu_s", "rows/s"),
    ("engine.noop_inplace_s", "s"), ("engine.noop_inplace_rows_per_cpu_s", "rows/s"),
    ("compile.inplace_hof_checks", "count")
  ).map { case (n, u) => (n, ref.getOrElse(n, 0.0), u) }

  /** A JSON number with every digit the double carries. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalStateException(s"metric is not finite: $v")
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  private def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** All spans of the run as one JSON document. */
  def writeTrace(file: Path, spans: Seq[Span]): Unit = {
    Files.createDirectories(file.getParent)
    val body = spans.map(s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${str(s.name)}, """ +
        s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}}""").mkString(",\n  ")
    Files.writeString(file, s"""{"spans": [\n  $body\n]}\n""")
  }
}
