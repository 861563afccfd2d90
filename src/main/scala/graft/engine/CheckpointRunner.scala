package graft.engine

import graft.spec.SchemaSpec
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.Paths

/** Partition-granularity checkpointed validation runs — the Iceberg-style
  * commit/resume seam (SURVEY.md §7.1).
  *
  * The input is processed one logical partition at a time (partition key =
  * the table's `source`-style column, matching "partition by source" in
  * the north star). Each partition's outputs (violations, verdict,
  * metrics) land under `outDir/<kind>/part=<value>` with an idempotent
  * overwrite, and a commit-log entry is written LAST — a partition
  * without an entry is re-run wholesale on resume, so interrupted runs
  * resume at partition granularity with no partial-state repair.
  */
/** How a logical partition (= one `partCol` value) is further split into
  * commit units — the "range on doc_id" axis of the north star's
  * two-level layout (partition by source, split by doc_id). At 10^12
  * rows a single source holds ~10^11 rows (the generator's src0 skew
  * slice models this), far too coarse as a resume unit.
  *
  * - [[SubSplit.None]]: one commit unit per partition value.
  * - [[SubSplit.Bucket]]: Iceberg's `bucket(N, doc_id)` partition
  *   transform (`pmod(xxhash64(key), n)`). Resume-stable by
  *   construction — no data-dependent boundary metadata to persist —
  *   and balanced under monotonically growing ids.
  * - [[SubSplit.Ranges]]: explicit ascending cut points over the key
  *   (unit i = keys in [cut(i-1), cut(i))), the literal range-on-doc_id
  *   form; in production the cuts come from the table's sort-order file
  *   metadata (Iceberg min/max per file), so each unit prunes to its
  *   own files. Null keys land in unit 0.
  *
  * Scale precondition (same as the partition-pruning one below): sub-unit
  * slices only avoid re-scanning the whole source when the layout
  * supports it — `PARTITIONED BY (source, bucket(N, doc_id))` for
  * [[SubSplit.Bucket]], or a doc_id sort order within source partitions
  * (file-level min/max skipping) for [[SubSplit.Ranges]].
  */
sealed trait SubSplit
object SubSplit {
  case object None extends SubSplit
  final case class Bucket(n: Int) extends SubSplit { require(n >= 2) }
  final case class Ranges(cuts: Seq[String]) extends SubSplit {
    require(cuts.nonEmpty && cuts == cuts.sorted, "cuts must be ascending")
  }
}

/** Checkpoint-table I/O seam (SURVEY.md §7.1's `SequenceTable` promise):
  * everything the runner needs from storage — completed-unit listing,
  * durable per-unit output, and the commit point — behind one trait, so
  * a real Iceberg implementation (checkpoint table + snapshot commits)
  * drops in without touching the driver loop. Implementations must make
  * [[writeViolations]] an IDEMPOTENT overwrite (a unit interrupted
  * between output and commit is re-run wholesale on resume) and
  * [[commit]] durable-last and atomic (a unit is complete iff its commit
  * record exists — for [[ParquetManifestIO]], its [[CommitLog]] entry).
  * Both must be safe to call for DIFFERENT units from concurrent driver
  * threads (the runner's `concurrency` option).
  */
trait TableIO {
  /** Units whose outputs are durably committed. */
  def completedUnits(): Set[String]
  /** The split descriptor a previous run recorded, if any. */
  def splitDescriptor(): Option[String]
  /** Record the split descriptor before the first unit runs. */
  def writeSplitDescriptor(desc: String): Unit
  /** Durably write one unit's violations (idempotent overwrite). MUST
    * execute an eager action on the frame: the runner observes the
    * unit's metrics (CollectMetrics) on that very job.
    */
  def writeViolations(unitId: String, violations: DataFrame): Unit
  /** Commit point: mark the unit complete. MUST be the last write. */
  def commit(result: PartitionResult, committedAt: java.time.Instant): Unit
  /** Durably write one unit's VALID rows (defaults-applied, passing) —
    * the reference parser's SUCCESS output (its generated parsers return
    * the typed value; verdicts/violations are the failure side). Same
    * contract as [[writeViolations]]: idempotent overwrite, safe across
    * units from concurrent threads. Only called when the runner's
    * `emitValid` is set; the default keeps verdict-only implementations
    * source-compatible.
    */
  def writeValid(unitId: String, rows: DataFrame): Unit =
    throw new UnsupportedOperationException(
      s"${getClass.getName} does not implement writeValid; run without emitValid")
}

/** Partitioned-Parquet + [[CommitLog]] [[TableIO]]: the in-sandbox
  * stand-in for an Iceberg checkpoint table (no Iceberg runtime jar
  * exists here, BASELINE.md). Each unit's output is an overwrite of its
  * own `violations/part=<unitId>` (and `valid/part=<unitId>`) directory,
  * so concurrent units never share a `_temporary` staging dir. Its
  * [[CommitLog]] entry `_commits/<unitId>.commit` (`n_rows`, `n_failed`,
  * `n_violations`, `committed_at`) is the commit: a unit is complete iff
  * its entry exists. No Spark job commits or lists units. A pre-log
  * outDir (a `_manifest/` parquet table) has no entries: every unit re-runs.
  */
final class ParquetManifestIO(spark: SparkSession, outDir: String) extends TableIO {
  private val log = CommitLog.in(outDir)
  private val splitFile = Paths.get(s"$outDir/_manifest_split")

  override def completedUnits(): Set[String] = log.ids()

  override def splitDescriptor(): Option[String] = CommitLog.read(splitFile)

  override def writeSplitDescriptor(desc: String): Unit = CommitLog.writeAtomic(splitFile, desc)

  override def writeViolations(unitId: String, violations: DataFrame): Unit =
    violations.write.mode(SaveMode.Overwrite).parquet(s"$outDir/violations/part=$unitId")

  override def writeValid(unitId: String, rows: DataFrame): Unit =
    rows.write.mode(SaveMode.Overwrite).parquet(s"$outDir/valid/part=$unitId")

  override def commit(res: PartitionResult, at: java.time.Instant): Unit =
    log.commit(res.partition, Seq("n_rows" -> res.nRows.toString,
      "n_failed" -> res.nFailed.toString, "n_violations" -> res.nViolations.toString,
      "committed_at" -> at.toString))
}

final class CheckpointRunner(spark: SparkSession, io: TableIO) {

  def this(spark: SparkSession, outDir: String) =
    this(spark, new ParquetManifestIO(spark, outDir))

  def completedPartitions(): Set[String] = io.completedUnits()

  /** Stable text form of a split, persisted next to the manifest. */
  private def splitDescriptor(split: SubSplit): String = split match {
    case SubSplit.None         => "none"
    case SubSplit.Bucket(n)    => s"bucket:$n"
    case SubSplit.Ranges(cuts) => s"ranges:${cuts.mkString("\u001f")}"
  }

  /** Validate every not-yet-committed commit unit. Returns per-unit
    * metrics of THIS run (resumed units are skipped).
    *
    * PRECONDITION at scale: the storage layout must be partitioned by
    * `partCol` (Iceberg/Hive `PARTITIONED BY`), so each `where(partCol
    * === p)` slice is satisfied by partition PRUNING — a metadata
    * operation. On an unpartitioned layout this loop degrades to one
    * full scan per partition value, which is pathological at 10^12
    * rows; commit-per-partition is only meaningful when the table
    * layout gives each partition its own files.
    *
    * `concurrency` > 1 submits that many commit units as Spark jobs at
    * once from a bounded driver pool. At 10^12 rows a serial
    * one-job-per-unit loop leaves the cluster idle between small units
    * (job setup + commit latency); units are independent by construction
    * (disjoint slices, per-unit output paths), so overlapping them keeps
    * executors saturated. Results return in deterministic unit order
    * regardless of completion order.
    */
  /** `emitValid = true` additionally writes each unit's VALID rows —
    * the reference's compiled-parser semantics end-to-end: defaults are
    * substituted FIRST (CodeGen.hs:342-350; `ValidationEngine
    * .applyDefaults`), then the defaulted rows are validated, so a row
    * whose only defect a default repairs is VALID and lands in the
    * clean output (and verdicts/violations/metrics are derived from the
    * same defaulted rows — one coherent semantic, not two). Cost note
    * at scale: the valid output is a SECOND action over the unit's
    * slice (Spark writes one sink per job), so an emitValid unit scans
    * its slice twice; production Iceberg would fan both out of one
    * pass with a branched write.
    */
  def run(df: DataFrame, spec: SchemaSpec, keyCol: String, partCol: String,
      limit: Option[Int] = None, split: SubSplit = SubSplit.None,
      concurrency: Int = 1, capViolations: Option[Int] = None,
      emitValid: Boolean = false): Seq[PartitionResult] = {
    require(concurrency >= 1, "concurrency must be >= 1")
    // commit units are only comparable across runs under the SAME split:
    // resuming with a different granularity would leave the old
    // granularity's outputs on disk and double-count violations. The
    // split descriptor is committed with the first run and must match.
    io.splitDescriptor() match {
      case Some(prev) =>
        require(prev == splitDescriptor(split),
          s"outDir was started with split '$prev' but this run uses " +
            s"'${splitDescriptor(split)}'; resume with the original split " +
            "or use a fresh outDir")
      case None => io.writeSplitDescriptor(splitDescriptor(split))
    }
    val done = io.completedUnits()
    // partition listing: distinct is over the (tiny) partition-key domain;
    // a null key's unit id is "__null__"
    def idOf(p: Option[String]) = p.getOrElse("__null__")
    val parts = df.select(partCol).distinct().collect()
      .map(r => Option(r.getString(0))).sortBy(idOf)
    require(parts.map(idOf).distinct.length == parts.length,
      s"$partCol holds both null and the literal \"__null__\"; their unit ids would collide")

    /** Sub-unit ids and their key-slice predicates for one partition. */
    def subUnits: Seq[(String, Option[org.apache.spark.sql.Column])] = split match {
      case SubSplit.None => Seq(("", scala.None))
      case SubSplit.Bucket(n) =>
        // xxhash64(NULL) = the seed constant, so null keys land in a
        // deterministic bucket rather than a dropped null-predicate row
        (0 until n).map(i =>
          (s"~b$i", Some(pmod(xxhash64(col(keyCol)), lit(n.toLong)) === i)))
      case SubSplit.Ranges(cuts) =>
        // unit index = #cuts <= key, as a codegen-friendly comparison sum
        // (null key: every when() yields 0 → unit 0)
        val idx = cuts.foldLeft(lit(0)) { (acc, cut) =>
          acc + when(col(keyCol) >= lit(cut), 1).otherwise(0)
        }
        (0 to cuts.size).map(i => (s"~r$i", Some(idx === i)))
    }

    val units = parts.toSeq.flatMap(p => subUnits.map { case (suffix, pred) =>
      (s"${idOf(p)}$suffix", p, pred)
    })
    val todo0 = units.filterNot { case (id, _, _) => done(id) }
    val todo = limit.fold(todo0)(todo0.take) // simulated interrupt

    def runUnit(unitId: String, p: Option[String],
        pred: Option[org.apache.spark.sql.Column]): PartitionResult = {
      val partSlice = p.fold(df.where(col(partCol).isNull))(v =>
        df.where(col(partCol) === v)) // partition pruning when the
                                      // source layout is partitioned
      val slice0 = pred.fold(partSlice)(partSlice.where)
      // emitValid runs the WHOLE unit over the defaults-applied rows
      // (parse-with-defaults then validate — the reference's order)
      val slice =
        if (emitValid) ValidationEngine.applyDefaults(slice0, spec) else slice0
      val ann = ValidationEngine.annotate(slice, spec)
      // One pass per unit: the per-unit metrics are observed on the SAME
      // job that writes the violations output (a CollectMetrics node over
      // the annotated rows — every annotated row flows through it:
      // CollectMetrics is a predicate-pushdown barrier, so the
      // `where(!valid)` of violationsWith's fast path stays ABOVE it,
      // asserted by this class's spec), instead of a second full
      // validate-and-aggregate scan; the separate agg doubled every
      // unit's scan work, the dominant cost at 10^12 rows. Unit ids are
      // unique per run, so concurrent units observe independently.
      val obs = new org.apache.spark.sql.Observation(s"graft-metrics-$unitId")
      val annObs = ann.observe(obs,
        count(lit(1)).as("n_rows"),
        coalesce(sum(when(col(ValidationEngine.PassCol), 0L).otherwise(1L)),
          lit(0L)).as("n_failed"),
        coalesce(sum(size(col(ValidationEngine.ViolationsCol)).cast("long")),
          lit(0L)).as("n_violations"))
      // the observation sits below the cap, so metrics stay EXACT even
      // when the written exemplar set is bounded
      io.writeViolations(unitId, capViolations.fold(
        ValidationEngine.violationsWith(annObs, Seq(keyCol)))(k =>
        ValidationEngine.violationsCappedWith(annObs, Seq(keyCol), k)))
      val m = obs.get // the write above was the action; its listener has the row
      if (emitValid)
        // a fresh annotate (not annObs): an Observation is one-shot, and
        // this second action must not re-trigger it
        io.writeValid(unitId,
          ValidationEngine.annotate(slice, spec)
            .where(col(ValidationEngine.PassCol))
            .drop(ValidationEngine.PassCol, ValidationEngine.ViolationsCol))
      val res = PartitionResult(unitId, m("n_rows").asInstanceOf[Long],
        m("n_failed").asInstanceOf[Long], m("n_violations").asInstanceOf[Long])

      // commit point: the log entry is written only after outputs are durable
      io.commit(res, java.time.Instant.now())
      res
    }

    if (concurrency == 1 || todo.size <= 1)
      todo.map { case (unitId, p, pred) => runUnit(unitId, p, pred) }
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(concurrency)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      // after a failure no further unit starts (the resume runs them), and
      // every unit already running settles before run rethrows the first
      // failure in unit order, so no commit lands after run has thrown
      val failed = new java.util.concurrent.atomic.AtomicBoolean(false)
      try {
        val futures = todo.map { case (unitId, p, pred) =>
          Future {
            if (failed.get) None
            else try Some(runUnit(unitId, p, pred))
            catch { case e: Throwable => failed.set(true); throw e }
          }
        }
        val settled = futures.map(f => Await.ready(f, Duration.Inf).value.get)
        settled.collectFirst { case scala.util.Failure(e) => throw e }
        settled.flatMap(_.get)
      } finally pool.shutdown()
    }
  }
}

final case class PartitionResult(partition: String, nRows: Long, nFailed: Long, nViolations: Long) {
  def pass: Boolean = nFailed == 0
}
