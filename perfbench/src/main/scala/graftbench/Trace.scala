package graftbench

import graft.engine.{PartitionResult, StageIO, TableIO}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed call into a layer, made from the benchmark's side of the
  * layer's public interface. `parent` is the span that was open on the
  * calling thread when it started (0: none).
  */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. While enabled, every span sets the Spark
  * local property [[Tracer.SpanKey]] on its thread, so the jobs the call
  * submits (and their tasks) can be attributed to it by [[TaskLedger]].
  * The property is also how a span finds its parent: threads a traced
  * call starts (CheckpointRunner's unit pool) inherit it. Disabled,
  * `span` is a plain call.
  */
final class Tracer {
  @volatile var enabled = false
  @volatile var sc: SparkContext = _
  private val ids = new AtomicLong(1)
  private val done = new ConcurrentLinkedQueue[Span]

  def span[T](name: String)(f: => T): T = spanWithId(name)(f)._1

  /** [[span]], also returning the span's id (0 when disabled). */
  def spanWithId[T](name: String)(f: => T): (T, Long) =
    if (!enabled) (f, 0L)
    else {
      val id = ids.getAndIncrement()
      val prev = sc.getLocalProperty(Tracer.SpanKey)
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val t0 = System.nanoTime()
      try (f, id)
      finally {
        done.add(Span(id, Option(prev).fold(0L)(_.toLong), name, t0, System.nanoTime()))
        sc.setLocalProperty(Tracer.SpanKey, prev)
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.startNs)
}

object Tracer {
  val SpanKey = "graftbench.span"

  /** Ids of `rootId` and every span below it. */
  def subtree(spans: Seq[Span], rootId: Long): Set[Long] = {
    val children = spans.groupBy(_.parent)
    @annotation.tailrec
    def go(frontier: List[Long], acc: Set[Long]): Set[Long] = frontier match {
      case Nil => acc
      case h :: t => go(children.getOrElse(h, Nil).map(_.id).toList ::: t, acc + h)
    }
    go(List(rootId), Set.empty)
  }

  /** A span's duration minus the part of its interval that its direct
    * children cover (children of concurrent units overlap, so the
    * covered part is the union of their intervals).
    */
  def selfSeconds(s: Span, spans: Seq[Span]): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs max s.startNs, k.endNs min s.endNs))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var (curA, curB) = (Long.MinValue, Long.MinValue)
    kids.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = curB max b
    }
    if (curB > curA) covered += curB - curA
    (s.endNs - s.startNs - covered) / 1e9
  }
}

/** Task and job counters, summed per span (span 0: no span set). */
final class Ledger {
  var jobs, tasks, cpuNs, runMs, gcMs, shuffleWrite, spill = 0L
  var inBytes, inRecords, outBytes, outRecords = 0L

  def +=(o: Ledger): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs; runMs += o.runMs
    gcMs += o.gcMs; shuffleWrite += o.shuffleWrite; spill += o.spill
    inBytes += o.inBytes; inRecords += o.inRecords
    outBytes += o.outBytes; outRecords += o.outRecords
  }
}

/** SparkListener that attributes jobs and tasks to the span that was set
  * on the submitting thread, and keeps per-stage task durations for the
  * skew figure. Read it only after the listener bus has drained.
  */
final class TaskLedger extends SparkListener {
  private val stageSpan = mutable.HashMap.empty[Int, Long]
  private val bySpan = mutable.HashMap.empty[Long, Ledger]
  private val taskMs = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val stageOfSpan = mutable.HashMap.empty[(Int, Int), Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toLong).getOrElse(0L)
    e.stageIds.foreach(s => stageSpan.getOrElseUpdate(s, span))
    bySpan.getOrElseUpdate(span, new Ledger).jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val span = stageSpan.getOrElse(e.stageId, 0L)
    val l = bySpan.getOrElseUpdate(span, new Ledger)
    l.tasks += 1
    if (m != null) {
      l.cpuNs += m.executorCpuTime; l.runMs += m.executorRunTime; l.gcMs += m.jvmGCTime
      l.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      l.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      l.inBytes += m.inputMetrics.bytesRead; l.inRecords += m.inputMetrics.recordsRead
      l.outBytes += m.outputMetrics.bytesWritten; l.outRecords += m.outputMetrics.recordsWritten
    }
    val key = (e.stageId, e.stageAttemptId)
    stageOfSpan.getOrElseUpdate(key, span)
    taskMs.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += e.taskInfo.duration
  }

  /** Counters summed over the given spans. */
  def sum(spans: Set[Long]): Ledger = synchronized {
    val acc = new Ledger
    spans.foreach(s => bySpan.get(s).foreach(acc += _))
    acc
  }

  /** Worst max/median task time over the stages of the given spans that
    * ran at least two tasks (1.0 when there are none). */
  def skew(spans: Set[Long]): Double = synchronized {
    val ratios = taskMs.collect {
      case (k, ds) if ds.size >= 2 && spans(stageOfSpan(k)) =>
        val s = ds.sorted
        s.last.toDouble / math.max(1L, s(s.size / 2))
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

/** Records each successful query's analysis + optimization + planning
  * time with the wall-clock start of its analysis, so it can be assigned
  * to the pass whose window holds it.
  */
final class PlanLedger extends QueryExecutionListener {
  private val seen = new ConcurrentLinkedQueue[(Long, Double)]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val start = phases.values.map(_.startTimeMs).minOption.getOrElse(0L)
    val ms = Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
    seen.add((start, ms / 1000.0))
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def secondsWithin(fromMs: Long, toMs: Long): Double =
    seen.asScala.collect { case (t, s) if t >= fromMs && t <= toMs => s }.sum
}

/** Latency of each commit unit: from entering its output write to the
  * return of its commit — two clock reads per unit, taken in every mode.
  */
final class UnitClock {
  private val started = new ConcurrentHashMap[String, java.lang.Long]
  private val latencies = new ConcurrentLinkedQueue[java.lang.Double]

  def start(unit: String): Unit = started.put(unit, System.nanoTime())
  def stop(unit: String): Unit =
    Option(started.remove(unit)).foreach(t0 => latencies.add((System.nanoTime() - t0) / 1e9))
  def seconds: Seq[Double] = latencies.asScala.map(_.doubleValue).toSeq
}

/** [[TableIO]] decorator: times every call (spans while tracing) and
  * clocks each unit from `writeViolations` to the end of `commit`. */
final class TimedTableIO(inner: TableIO, tr: Tracer) extends TableIO {
  val clock = new UnitClock
  @volatile var writes = 0

  override def completedUnits(): Set[String] =
    tr.span("runner.completed_units")(inner.completedUnits())
  override def splitDescriptor(): Option[String] =
    tr.span("runner.split_descriptor")(inner.splitDescriptor())
  override def writeSplitDescriptor(desc: String): Unit =
    tr.span("runner.split_descriptor")(inner.writeSplitDescriptor(desc))
  override def writeViolations(unitId: String, violations: DataFrame): Unit = {
    clock.start(unitId)
    synchronized(writes += 1)
    tr.span("runner.write")(inner.writeViolations(unitId, violations))
  }
  override def commit(res: PartitionResult, at: java.time.Instant): Unit = {
    tr.span("runner.commit")(inner.commit(res, at))
    clock.stop(res.partition)
  }
}

/** [[StageIO]] decorator: times every call (spans while tracing), clocks
  * each stage from `writeStage` to the end of `commitStage`, and keeps
  * the time each commit returned, which bounds each stage's share of
  * the pipeline's wall time. */
final class TimedStageIO(inner: StageIO, tr: Tracer) extends StageIO {
  val clock = new UnitClock
  val commits = new ConcurrentLinkedQueue[(String, Long)]

  override def completedStages(): Set[String] =
    tr.span("stageio.completed")(inner.completedStages())
  override def runDescriptor(): Option[String] =
    tr.span("stageio.descriptor")(inner.runDescriptor())
  override def writeRunDescriptor(desc: String): Unit =
    tr.span("stageio.descriptor")(inner.writeRunDescriptor(desc))
  override def writeStage(name: String, df: DataFrame): Unit = {
    clock.start(name)
    tr.span("stageio.write")(inner.writeStage(name, df))
  }
  override def readStage(name: String): DataFrame =
    tr.span("stageio.read")(inner.readStage(name))
  override def commitStage(name: String, scalars: Map[String, Long]): Unit = {
    tr.span("stageio.commit")(inner.commitStage(name, scalars))
    clock.stop(name)
    commits.add((name, System.nanoTime()))
  }
  override def stageScalars(name: String): Map[String, Long] =
    tr.span("stageio.scalars")(inner.stageScalars(name))
}
