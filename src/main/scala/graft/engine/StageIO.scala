package graft.engine

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import java.nio.file.{Files, Paths}

/** Stage-granularity commit/resume seam for composed pipelines — the
  * assembly-pipeline face of the Iceberg checkpoint contract that
  * [[TableIO]] provides for validation runs (SURVEY.md §7.1). Each
  * pipeline stage's output frame is durably written as one commit unit
  * and a manifest row (carrying the stage's scalar metrics) is committed
  * LAST: a stage without a manifest row is re-run wholesale on resume,
  * so an interrupted assembly resumes at stage granularity with no
  * partial-state repair — the production run's parquet-between-stages,
  * not the in-memory `localCheckpoint` analog.
  *
  * Same contract as [[TableIO]]: [[writeStage]] must be an IDEMPOTENT
  * overwrite (a stage interrupted between output and commit is re-run
  * from its inputs on resume) and [[commitStage]] durable-last (a stage
  * is complete iff its manifest rows exist). Scalars recorded at commit
  * time are replayed on resume so cross-stage invariants keep holding
  * without recomputation.
  *
  * At 10^12 rows the validate stage alone is additionally resumable at
  * PARTITION granularity by pre-running it through [[CheckpointRunner]]
  * and feeding its `valid/` output to the assembly as input — this seam
  * composes with that one; it does not replace it.
  */
trait StageIO {
  /** Stages whose outputs are durably committed. */
  def completedStages(): Set[String]
  /** The run descriptor a previous run recorded, if any — stages are
    * only comparable across runs under the SAME pipeline configuration.
    */
  def runDescriptor(): Option[String]
  /** Record the run descriptor before the first stage runs. */
  def writeRunDescriptor(desc: String): Unit
  /** Durably write one stage's output frame (idempotent overwrite). */
  def writeStage(name: String, df: DataFrame): Unit
  /** Read a stage's durably written output (a leaf plan — later stages
    * plan against it, which is also what kills the multiplicative
    * lazy-composition plan growth).
    */
  def readStage(name: String): DataFrame
  /** Commit point: mark the stage complete with its scalar metrics.
    * MUST be the last write for the stage.
    */
  def commitStage(name: String, scalars: Map[String, Long]): Unit
  /** The scalar metrics a completed stage committed. */
  def stageScalars(name: String): Map[String, Long]
}

/** Parquet + manifest-directory [[StageIO]] — the in-sandbox stand-in
  * for an Iceberg checkpoint table, mirroring [[ParquetManifestIO]]'s
  * layout discipline: stage data under `dir/stage=<name>`, manifest
  * rows under `dir/_stages/part=<name>` (per-stage directories make
  * re-commits idempotent and never share a `_temporary` staging dir).
  * The run descriptor `dir/_run_descriptor` is written atomically
  * ([[CommitLog.writeAtomic]]).
  */
final class ParquetStageIO(spark: SparkSession, val dir: String) extends StageIO {
  private val manifestDir = s"$dir/_stages"
  private val descFile = Paths.get(s"$dir/_run_descriptor")

  override def completedStages(): Set[String] =
    if (!Files.exists(Paths.get(manifestDir))) Set.empty
    else spark.read.option("basePath", manifestDir).parquet(manifestDir)
      .select("stage").distinct().collect().map(_.getString(0)).toSet

  override def runDescriptor(): Option[String] = CommitLog.read(descFile)

  override def writeRunDescriptor(desc: String): Unit = CommitLog.writeAtomic(descFile, desc)

  override def writeStage(name: String, df: DataFrame): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(s"$dir/stage=$name")

  override def readStage(name: String): DataFrame =
    spark.read.parquet(s"$dir/stage=$name")

  override def commitStage(name: String, scalars: Map[String, Long]): Unit = {
    import spark.implicits._
    scalars.toSeq.sorted.map { case (k, v) => (name, k, v) }
      .toDF("stage", "key", "value")
      .write.mode(SaveMode.Overwrite).parquet(s"$manifestDir/part=$name")
  }

  override def stageScalars(name: String): Map[String, Long] =
    spark.read.parquet(s"$manifestDir/part=$name")
      .select("key", "value").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
}
