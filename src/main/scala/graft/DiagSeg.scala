package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, TextOps}

/** Stage bisect of the segment-dedup family (round 6): how much of
  * `dedup_segments` / `dedup_seg_rewrite` is the segment-row GENERATION
  * (words split + per-segment slice/array_join HOF + md5) vs the
  * occurrence attach + re-aggregation downstream.
  * Usage: DiagSeg [sfDir] [reps]
  */
object DiagSeg {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 5
    val spark = SparkSession.builder().master("local[32]")
      .appName("diag-seg")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.parquet.enableNestedColumnVectorizedReader", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val width = 8
    def docs = spark.read.parquet(s"$dir/documents.parquet")

    def segRows = Dedup.segmentRows(docs, "doc_id", "text", width)

    def time(label: String)(mk: => org.apache.spark.sql.DataFrame): Unit = {
      mk.write.mode("overwrite").format("noop").save() // warmup
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        mk.write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      println(f"[diagseg] $label%-28s min=${ts.head}%.3f med=${ts(reps / 2)}%.3f")
    }

    time("scan_words_only")(docs
      .where(col("doc_id").isNotNull && col("text").isNotNull)
      .select(col("doc_id"), TextOps.words(col("text")).as("_w")))
    time("seg_rows")(segRows)
    time("seg_rows_md5")(segRows.select(col("id"), md5(col("seg").cast("binary")).as("_h")))
    time("seg_rows_md5_posseg")(segRows.select(col("id"), col("pos"), col("seg"),
      md5(col("seg").cast("binary")).as("_h")))
    time("full_segmentStats")(Dedup.segmentStats(docs, "doc_id", "text"))
    time("full_dropDupSegments")(Dedup.dropDuplicateSegments(docs, "doc_id", "text"))

    spark.stop()
  }
}
