package graftbench

import graft.gen.SequenceGen
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}

/** Seeded input tables, written once per (seed, size) under the
  * benchmark's cache directory and read back by every run that asks for
  * the same pair. The program under test only ever sees the parquet
  * tables, never the generator.
  */
object Fixtures {

  /** Sequences `(doc_id, tokens, n_tok, source)` from
    * `SequenceGen.generate`, partitioned by `source` — the layout
    * CheckpointRunner documents as its precondition, so every unit's
    * source slice is satisfied by partition pruning.
    */
  def sequences(spark: SparkSession, cache: Path, rows: Long, seed: Long): (DataFrame, Double) =
    cached(spark, cache.resolve(s"sequences_s${seed}_n$rows")) { dir =>
      SequenceGen.generate(spark, rows, seed)
        .write.mode("overwrite").partitionBy("source").parquet(dir)
    }

  /** Rows of the junk lane: every id ≡ 3 (mod JunkMod). */
  val JunkMod = 4001L

  def junkCount(rows: Long): Long = if (rows > 3) (rows - 4) / JunkMod + 1 else 0L

  /** Documents `(doc_id, text, source)` with SoakBench's arithmetic
    * lanes and AssemblyPipeline.main's source and junk lanes: 24-word
    * docs drawn from a 65521-word pool by a hash of (base id, position,
    * seed); id ≡ 0 (mod 16) is an exact duplicate of id+1, id ≡ 2
    * (mod 16) a near duplicate of id+1 (last word re-salted), id ≡ 0
    * (mod 10007) one shared boilerplate text, and id ≡ 3 (mod 4001) a
    * junk doc (its own word 24 times) that only the repetition gate
    * drops.
    */
  def documents(spark: SparkSession, cache: Path, rows: Long, seed: Long): (DataFrame, Double) =
    cached(spark, cache.resolve(s"documents_s${seed}_n$rows")) { dir =>
      val pool = 65521
      val id = col("id")
      val base = when(pmod(id, lit(16)).isin(0, 2), id + 1).otherwise(id)
      val words = (0 until 24).map { j =>
        val salt =
          if (j == 23) when(pmod(id, lit(16)) === 2, lit(j + 1000)).otherwise(lit(j))
          else lit(j)
        concat(lit("tok"), pmod(hash(base, salt, lit(seed)), lit(pool)).cast("string"))
      }
      val boiler = (0 until 24).map(j => s"tok${j * 7 % pool}").mkString(" ")
      spark.range(rows).select(
        concat(lit("d"), id.cast("string")).as("doc_id"),
        when(pmod(id, lit(JunkMod)) === 3,
            array_join(array_repeat(concat(lit("j"), id.cast("string")), 24), " "))
          .when(pmod(id, lit(10007)) === 0, lit(boiler))
          .otherwise(concat_ws(" ", words: _*)).as("text"),
        concat(lit("src"), pmod(id, lit(10)).cast("string")).as("source"))
        .write.mode("overwrite").parquet(dir)
    }

  /** Read `dir`, writing it first through a temporary sibling that is
    * renamed into place, so an interrupted build never leaves a partial
    * table behind that a later run would trust. Also returns the seconds
    * spent building (0 when cached).
    */
  private def cached(spark: SparkSession, dir: Path)(write: String => Unit): (DataFrame, Double) = {
    val t0 = System.nanoTime()
    if (!Files.exists(dir)) {
      val tmp = dir.resolveSibling(dir.getFileName.toString + ".tmp")
      Files.createDirectories(dir.getParent)
      write(tmp.toString)
      Files.move(tmp, dir)
    }
    val built = (System.nanoTime() - t0) / 1e9
    (spark.read.parquet(dir.toString), built)
  }
}
