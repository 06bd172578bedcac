package graft.streaming

import graft.io.Io
import graft.operators.Relational
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STREAMING QUANTILE MAINTENANCE — the streaming twin of q153's HDR
  * histogram sketch ([[Relational.hdrCells]]), completing the maintained-
  * measure matrix: algebraic sums (IncrementalMv), distinct sketches (q117
  * HLL), heavy hitters (TopKStream CMS), rates (RateWatch) — and now
  * quantiles, the measure `approx_percentile` cannot provide exactly-once
  * because its sketch is neither deterministic nor integer-mergeable.
  *
  * The HDR cells are a LINEAR sketch like the CMS: a batch's (event_type,
  * bucket-lower-bound) counts simply ADD, so the maintenance is exactly the
  * TopKStream cell discipline — per-cell `last_epoch` gate makes the merge
  * idempotent under full replays AND partial bucket commits, and the
  * maintained store is CELL-FOR-CELL equal to a batch recompute over
  * everything absorbed (deterministic integers; spec-pinned). The read path
  * ([[readQuantiles]]) walks ranks over the ≤ 2ᵖ⁺⁶-per-group cell store —
  * read cost independent of absorbed stream volume, the
  * [[IncrementalMv.readOverlap]] property.
  *
  * Why not maintain the quantile VALUES directly: quantiles are holistic —
  * two batch medians don't merge. The cells are the algebraic state whose
  * read-time fold yields the quantile; that factoring (store the mergeable
  * partial, fold at read) is the entire design. */
object HdrStream {

  /** Merge one micro-batch of (event_type, value) rows into the cell store.
    * Idempotent per (cell, epoch). */
  def applyBatch(spark: SparkSession, delta: DataFrame, cellsPath: String,
                 epoch: Long, p: Int = 5): Unit =
    EpochStore.mergeAdditive(spark,
      Relational.hdrCells(delta, p)
        .withColumn("cell", concat_ws("|", col("event_type"), col("lo"))),
      cellsPath, "cell", epoch, Seq("ct"))

  /** Current per-group quantile envelopes from the maintained cells — the
    * q153 output shape, definitionally equal to the batch operator over
    * everything absorbed (because the cells are). */
  def readQuantiles(spark: SparkSession, cellsPath: String, p: Int = 5): DataFrame =
    Relational.hdrQuantilesFromCells(
      Io.readDim(spark, cellsPath).select("event_type", "lo", "ct"), p)
}
