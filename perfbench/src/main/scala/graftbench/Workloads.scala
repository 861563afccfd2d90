package graftbench

import graft.{AssemblyPipeline, Main}
import graft.compile.SpecCompiler
import graft.engine._
import graft.gen.SequenceGen
import graft.spec.{SchemaParser, SchemaSpec}
import org.apache.spark.GraftBenchBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** One timed pass of a workload: its wall time, the latency of each
  * commit unit it ran, how many operations it attempted, and a message
  * for every operation that threw or whose output did not match the
  * expected count. `layer` holds per-layer figures only the workload can
  * compute (stage boundaries, spec parse time).
  */
final case class Pass(wall: Double, units: Seq[Double], attempted: Int,
    failures: Seq[String], layer: Map[String, Double] = Map.empty)

trait Workload {
  /** Input rows (documents for assemble) one pass processes. */
  def rows: Long
  /** Read the inputs in a new session, building the cached fixture
    * first if needed; returns the seconds spent building it. */
  def open(spark: SparkSession): Double
  /** One untimed pass over the same inputs, part of set-up. */
  def warmup(spark: SparkSession): Unit
  /** One timed pass into a fresh output directory. */
  def pass(spark: SparkSession): Pass
  /** Re-run over the output the last pass committed. */
  def resume(spark: SparkSession): Pass
  /** Traced-only figures measured once per run. */
  def reference(spark: SparkSession, ledger: TaskLedger): Map[String, Double] = Map.empty
  /** Figures about the compiled spec on this workload's input. */
  def compileFacts: Map[String, Double] = Map.empty
}

object Workload {
  /** Input sizes. They are set by the run budget (every run, set-up
    * included, within about a minute on a 4-core host), not by the
    * production sizes: see perfbench/README.md. */
  def apply(name: String, seed: Long, cache: Path, work: Path, tr: Tracer): Workload =
    name match {
      case "validate_bulk" => new ValidateWorkload(300000L, seed, cache, work, tr)
      case "assemble" => new AssembleWorkload(15000L, seed, cache, work, tr)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

  /** Commit units in flight at once (= the host's cores). */
  val Concurrency = 4

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(q => Files.delete(q))
      finally s.close()
    }

  def seconds[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** `graft.Main validate` over a parquet sequences table partitioned by
  * source: CheckpointRunner (one commit unit per source, 11 units) at
  * concurrency 4 through a timed [[TableIO]], then the uniqueness,
  * referential, consistency and drift checks. Every count is checked
  * against the generator's injection arithmetic.
  */
final class ValidateWorkload(val rows: Long, seed: Long, cache: Path, work: Path,
    tr: Tracer) extends Workload {
  import Workload._

  private var table: DataFrame = _
  private val expected = Expected.validate(rows)
  private val spec: SchemaSpec = SchemaParser.parse(Main.builtinSpec)
  private var facts = Map.empty[String, Double]
  private var n = 0

  override def open(spark: SparkSession): Double = {
    val (t, built) = Fixtures.sequences(spark, cache, rows, seed)
    table = t
    facts = Map(
      "compile.constraints" -> SpecCompiler.compileTable(spec, t.schema).size.toDouble,
      "compile.hof_checks" -> ValidateWorkload.hofChecks(t, spec).toDouble)
    built
  }

  override def compileFacts: Map[String, Double] = facts

  private def validate(spark: SparkSession, dir: Path, parsed: SchemaSpec) = {
    val io = new TimedTableIO(new ParquetManifestIO(spark, dir.toString), tr)
    val results = tr.span("runner.run")(new CheckpointRunner(spark, io)
      .run(table, parsed, "doc_id", "source", None, SubSplit.None, Concurrency))
    (results, io)
  }

  override def warmup(spark: SparkSession): Unit = {
    val dir = work.resolve("warmup")
    deleteTree(dir)
    validate(spark, dir, spec)
    checks(spark)
    deleteTree(dir)
  }

  private def lastDir = work.resolve(s"pass$n")

  override def pass(spark: SparkSession): Pass = {
    deleteTree(lastDir)
    n += 1
    val t0 = System.nanoTime()
    // graft.Main parses the spec on every invocation
    val (parsed, parseS) = seconds(SchemaParser.parse(Main.builtinSpec))
    val (results, io) = validate(spark, lastDir, parsed)
    val checked = checks(spark)
    val wall = (System.nanoTime() - t0) / 1e9
    val sums = (results.map(_.nRows).sum, results.map(_.nFailed).sum,
      results.map(_.nViolations).sum)
    val want = (rows, expected.failed, expected.violations)
    // the summed unit metrics are only checkable as a whole: a mismatch
    // fails every unit of the pass
    val unitFailures =
      if (sums == want) Nil
      else Seq.fill(results.size max 1)(s"units (rows, failed, violations) $sums != $want")
    val checkFailures = Seq(
      Option.when(checked.uniqueness != expected.uniqueness)(
        s"uniqueness violations ${checked.uniqueness} != ${expected.uniqueness}"),
      Option.when(checked.referential != expected.referential)(
        s"referential violations ${checked.referential} != ${expected.referential}"),
      Option.when(checked.consistency != expected.consistency)(
        s"consistency violations ${checked.consistency} != ${expected.consistency}"),
      Option.when(!checked.topDrift.contains("src3"))(
        s"highest drift PSI at ${checked.topDrift}, not src3")).flatten
    Pass(wall, io.clock.seconds, results.size + 4, unitFailures ++ checkFailures,
      Map("spec.parse_s" -> parseS))
  }

  override def resume(spark: SparkSession): Pass = {
    val ((results, io), wall) = seconds(validate(spark, lastDir, spec))
    val failures =
      if (results.isEmpty && io.writes == 0) Nil
      else Seq(s"resume over a committed dir ran ${results.size} units")
    Pass(wall, Nil, 1, failures)
  }

  private case class Checked(uniqueness: Long, referential: Long, consistency: Long,
      topDrift: Option[String])

  /** The four cross-row checks of `graft.Main validate`. */
  private def checks(spark: SparkSession): Checked = Checked(
    tr.span("checks.uniqueness")(Checks.uniquenessViolations(table, "doc_id").count()),
    tr.span("checks.referential")(Checks.referentialViolations(
      table, "source", SequenceGen.sourcesDim(spark), "source").count()),
    tr.span("checks.consistency")(Checks.consistencyViolations(table, "doc_id",
      "$.n_tok.consistent", col("n_tok") === size(col("tokens")), col("n_tok")).count()),
    tr.span("checks.drift") {
      val hist = Checks.histogram(table.where(col("source").isin(SequenceGen.Sources: _*)),
        "n_tok", 32.0, Seq("source"))
      Checks.driftByGroup(hist, Seq("source"), SequenceGen.baselineProfile(spark, 32))
        .orderBy(desc("psi")).collect().headOption.map(_.getString(0))
    })

  /** Reference point for the fused kernel: `annotate` → noop sink over
    * the parquet table and over the same rows generated in place, whose
    * non-null token elements compile to array_min/array_max instead of
    * `forall`. */
  override def reference(spark: SparkSession, ledger: TaskLedger): Map[String, Double] = {
    def noop(label: String, df: DataFrame): Map[String, Double] = {
      val ((_, id), wall) = seconds(tr.spanWithId(s"engine.noop_$label")(
        ValidationEngine.annotate(df, spec).write.format("noop").mode("overwrite").save()))
      GraftBenchBridge.drainListeners(spark.sparkContext)
      val cpu = ledger.sum(Set(id)).cpuNs / 1e9
      Map(s"engine.noop_${label}_s" -> wall,
        s"engine.noop_${label}_rows_per_cpu_s" -> (if (cpu > 0) rows / cpu else 0.0))
    }
    val inPlace = SequenceGen.generate(spark, rows, seed)
    noop("parquet", table) ++ noop("inplace", inPlace) ++
      Map("compile.inplace_hof_checks" -> ValidateWorkload.hofChecks(inPlace, spec).toDouble)
  }
}

object ValidateWorkload {
  /** Compiled pass predicates that still contain a higher-order function
    * after optimization, on `df`'s schema. */
  def hofChecks(df: DataFrame, spec: SchemaSpec): Int = {
    val cs = SpecCompiler.compileTable(spec, df.schema)
    val plan = df.select(cs.zipWithIndex.map { case (c, i) => c.pass.as(s"_c$i") }: _*)
      .queryExecution.optimizedPlan
    plan.expressions.count(_.find(_.isInstanceOf[HigherOrderFunction]).isDefined)
  }
}

/** `AssemblyPipeline.run` over a seeded documents table with a timed
  * [[ParquetStageIO]] checkpoint and the packed output written
  * partitioned by source — the settings of `AssemblyPipeline.main`
  * (eval slice id ≡ 5 mod 1009, repetition ceiling 0.5, so all 7 stages
  * run).
  */
final class AssembleWorkload(val rows: Long, seed: Long, cache: Path, work: Path,
    tr: Tracer) extends Workload {
  import Workload._

  private var docs: DataFrame = _
  private var n = 0
  private var lastCounts: Option[AssemblyPipeline.StageCounts] = None

  override def open(spark: SparkSession): Double = {
    val (d, built) = Fixtures.documents(spark, cache, rows, seed)
    docs = d
    built
  }

  private def dirs(i: Int) = (work.resolve(s"ck$i"), work.resolve(s"out$i"))

  private def assemble(spark: SparkSession, i: Int, computed: String => Unit)
      : (AssemblyPipeline.StageCounts, TimedStageIO) = {
    val (ck, out) = dirs(i)
    val io = new TimedStageIO(new ParquetStageIO(spark, ck.toString), tr)
    val idNum = pmod(substring(col("doc_id"), 2, 100).cast("long"), lit(1009))
    val c = tr.span("assembly.run")(AssemblyPipeline.run(spark, docs,
      benchPred = idNum === 5, maxRepetition = 0.5,
      outDir = Some(out.toString), checkpoint = Some(io), onStageComputed = computed))
    (c, io)
  }

  /** Output checks beyond the pipeline's own `require`s, one message per
    * stage whose output is off. */
  private def verify(spark: SparkSession, c: AssemblyPipeline.StageCounts, out: Path): Seq[String] = {
    val written = spark.read.parquet(out.toString).count()
    Seq(
      Option.when(c.nInput != rows || c.nValid != rows)(
        s"validate kept ${c.nValid} of ${c.nInput}, want $rows of $rows"),
      Option.when(c.nQualityDropped != Fixtures.junkCount(rows))(
        s"quality gate dropped ${c.nQualityDropped}, junk lane is ${Fixtures.junkCount(rows)}"),
      Option.when(written != c.nPacked)(s"wrote $written rows, packed ${c.nPacked}")
    ).flatten
  }

  override def warmup(spark: SparkSession): Unit = {
    val (ck, out) = dirs(0)
    deleteTree(ck); deleteTree(out)
    assemble(spark, 0, _ => ())
    deleteTree(ck); deleteTree(out)
  }

  override def pass(spark: SparkSession): Pass = {
    val (ck, out) = dirs(n)
    deleteTree(ck); deleteTree(out)
    n += 1
    val computed = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val start = System.nanoTime()
    val (c, io) = assemble(spark, n, s => computed.add(s))
    val wall = (System.nanoTime() - start) / 1e9
    lastCounts = Some(c)
    // a stage's share of the wall time runs from the previous commit to its own
    val commits = io.commits.asScala.toSeq
    val stageS = commits.zip(start +: commits.map(_._2)).map { case ((stage, end), begin) =>
      s"assembly.${stage}_s" -> (end - begin) / 1e9 }
    val missing = Layers.Stages.filterNot(computed.contains(_))
    Pass(wall, io.clock.seconds, Layers.Stages.size,
      verify(spark, c, dirs(n)._2) ++ missing.map(s => s"stage $s was not computed"),
      stageS.toMap)
  }

  override def resume(spark: SparkSession): Pass = {
    val computed = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val ((c, _), wall) = seconds(assemble(spark, n, s => computed.add(s)))
    val failures =
      Option.when(!computed.isEmpty)(s"resume recomputed ${computed.size} stages").toSeq ++
        Option.when(!lastCounts.contains(c))("resumed stage counts differ from the pass").toSeq ++
        verify(spark, c, dirs(n)._2)
    Pass(wall, Nil, 1, failures)
  }
}
