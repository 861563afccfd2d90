package graftbench

import org.apache.spark.GraftBenchBridge
import org.apache.spark.sql.SparkSession
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The benchmark's JVM side (launched by perfbench/run.py):
  *
  *   graftbench.BenchMain --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --dir <benchDir>
  *
  * Set-up is done [[Setups]] times — a new session, the inputs opened,
  * one untimed warm-up pass; the first counts from JVM start — and
  * `setup_s` is their median. The timed phase then runs passes until
  * `--seconds` have passed, each followed by a resume over what it
  * committed. With `--trace 1`, passes alternate untraced and traced and
  * the result holds the per-layer figures of the traced ones; otherwise
  * the end-to-end metrics. The last stdout line is the result JSON; the
  * exit code is 1 when any output check failed.
  */
object BenchMain {

  val Setups = 2
  val Cores = 4

  type Metric = (String, Double, String)

  def session(dir: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graft-perfbench")
      // graft.Main validate / assemble settings
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.enableNestedColumnVectorizedReader", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // every pass re-runs the same queries; at the default 100 entries the
      // generated-class cache evicts within one assembly pass, so each pass
      // would recompile and re-JIT its classes in eviction order
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A pass that threw is one failed operation. */
  def guarded(f: => Pass): Pass = {
    val t0 = System.nanoTime()
    try f
    catch {
      case e: Exception => Pass((System.nanoTime() - t0) / 1e9, Nil, 1, Seq(s"threw: $e"))
    }
  }

  /** CPU time of the whole JVM (driver, tasks, JIT and GC threads). */
  def processCpu(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Time the JIT compilers and the collectors have spent so far. */
  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Heap in use after a full collection, in MB. Collected twice: the
    * first collection lets Spark's ContextCleaner release what only
    * weak references held. */
  def liveHeapMb(): Double = {
    System.gc()
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }

  /** Nearest-rank quantile: an observed sample, so a percentile never
    * interpolates across the gap between the one large validate unit
    * (the src0 half of the rows) and the rest. */
  def nearestRank(xs: Seq[Double], q: Double): Double =
    xs.sorted.apply((math.ceil(q * xs.size).toInt - 1) max 0)

  final case class Timed(traced: Boolean, pass: Pass, resume: Pass, passRoot: Long,
      resumeRoot: Long, fromMs: Long, toMs: Long, cpuS: Double, jitS: Double, gcS: Double,
      heapMb: Double)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val budget = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val dir = Paths.get(opts("dir")).toAbsolutePath
    val work = dir.resolve("work")
    Workload.deleteTree(work)
    Files.createDirectories(work)

    val tr = new Tracer
    val w = Workload(workload, seed, dir.resolve("fixtures"), work, tr)

    // ---- set-up, repeated; fixture building is not part of it ----
    var spark: SparkSession = null
    val setups = (0 until Setups).map { k =>
      val sinceJvmStart = if (k > 0) 0.0 else
        (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
      val t0 = System.nanoTime()
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      spark = session(dir)
      val t1 = System.nanoTime()
      val fixtureS = w.open(spark)
      val t2 = System.nanoTime()
      w.warmup(spark)
      val t3 = System.nanoTime()
      println(f"[bench] setup ${k + 1}: jvm=$sinceJvmStart%.3f session=${(t1 - t0) / 1e9}%.3f" +
        f" open=${(t2 - t1) / 1e9 - fixtureS}%.3f warmup=${(t3 - t2) / 1e9}%.3f s" +
        f" (fixture build $fixtureS%.3f s, not counted)")
      sinceJvmStart + (t3 - t0) / 1e9 - fixtureS
    }
    tr.sc = spark.sparkContext
    val ledger = new TaskLedger
    val plans = new PlanLedger
    if (trace) {
      spark.sparkContext.addSparkListener(ledger)
      spark.listenerManager.register(plans)
    }

    // ---- timed phase ----
    val timed = scala.collection.mutable.ArrayBuffer.empty[Timed]
    val phaseStart = System.nanoTime()
    def more = timed.isEmpty || (System.nanoTime() - phaseStart) / 1e9 < budget ||
      (trace && timed.size < 2)
    while (more && timed.forall(t => t.pass.failures.isEmpty && t.resume.failures.isEmpty)) {
      val traced = trace && timed.size % 2 == 1
      tr.enabled = traced
      val fromMs = System.currentTimeMillis()
      val (cpu0, jit0, gc0) = (processCpu(), jitMs(), gcMs())
      val (p, passRoot) = tr.spanWithId("pass")(guarded(w.pass(spark)))
      val cpuS = (processCpu() - cpu0) / 1e9
      val (jitS, gcS) = ((jitMs() - jit0) / 1e3, (gcMs() - gc0) / 1e3)
      val toMs = System.currentTimeMillis()
      val (r, resumeRoot) = tr.spanWithId("resume")(guarded(w.resume(spark)))
      tr.enabled = false
      timed += Timed(traced, p, r, passRoot, resumeRoot, fromMs, toMs, cpuS, jitS, gcS,
        liveHeapMb())
    }
    val ref = if (!trace) Map.empty[String, Double] else {
      tr.enabled = true
      try w.reference(spark, ledger) finally tr.enabled = false
    }
    GraftBenchBridge.drainListeners(spark.sparkContext)

    val failures = timed.toSeq.flatMap(t => t.pass.failures ++ t.resume.failures)
    val attempted = timed.map(t => t.pass.attempted + t.resume.attempted).sum
    val untraced = timed.toSeq.filterNot(_.traced)
    val passWalls = untraced.map(_.pass.wall)
    val units = untraced.flatMap(_.pass.units)

    val endToEnd = Seq[Metric](
      ("setup_s", median(setups), "s"),
      ("rows_per_s", w.rows / median(passWalls), "rows/s"),
      ("unit_p50_s", nearestRank(units, 0.5), "s"),
      ("unit_p90_s", nearestRank(units, 0.9), "s"),
      ("resume_s", median(untraced.map(_.resume.wall)), "s"),
      ("peak_heap_mb", untraced.map(_.heapMb).max, "MB"))
    def list(xs: Seq[Double]) = xs.map(x => f"$x%.3f").mkString(",")
    println(s"[bench] workload=$workload seed=$seed rows=${w.rows} passes=${untraced.size}" +
      s" traced_passes=${timed.count(_.traced)} unit_samples=${units.size}" +
      s" setups=${list(setups)} pass_walls=${list(timed.toSeq.map(_.pass.wall))}" +
      s" resume_walls=${list(timed.toSeq.map(_.resume.wall))}" +
      s" pass_cpu=${list(timed.toSeq.map(_.cpuS))} pass_jit=${list(timed.toSeq.map(_.jitS))}" +
      s" pass_gc=${list(timed.toSeq.map(_.gcS))} heap_mb=${list(timed.toSeq.map(_.heapMb))}")
    endToEnd.foreach { case (n, v, u) => println(f"[bench] $n%-14s $v%.6f $u") }
    val failedFrac = failures.size.toDouble / attempted
    println(f"[bench] failed_frac    $failedFrac%.6f fraction (${failures.size} of $attempted operations)")
    failures.distinct.foreach(f => println(s"[bench] FAILED: $f"))

    val metrics: Seq[Metric] =
      if (!trace) endToEnd
      else {
        val traced = timed.toSeq.filter(_.traced)
        val perPass = traced.map(t => Layers.perPass(w, tr, ledger, plans, t.pass,
          t.passRoot, t.resumeRoot, t.fromMs, t.toMs, Cores))
        val averaged = perPass.head.indices.map { i =>
          val (n, _, u) = perPass.head(i)
          (n, perPass.map(_(i)._2).sum / perPass.size, u)
        }
        val overhead = median(traced.map(_.pass.wall)) / median(passWalls) - 1
        averaged ++ Layers.reference(ref) :+ (("trace_overhead_frac", overhead, "fraction"))
      }
    if (trace) metrics.foreach { case (n, v, u) => println(f"[bench] $n%-40s $v%.6f $u") }
    Layers.writeTrace(dir.resolve("traces").resolve(s"${workload}_seed$seed.json"), tr.spans)

    val correct = failures.isEmpty
    val json = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${Layers.num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": ${failures.size}, "metrics": {$json}}""")
    spark.stop()
    sys.exit(if (correct) 0 else 1)
  }
}
