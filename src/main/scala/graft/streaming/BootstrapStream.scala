package graft.streaming

import graft.io.Io
import graft.operators.Relational
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STREAMING BOOTSTRAP-CI MAINTENANCE — the streaming twin of q169: metric
  * means WITH error bars, maintained continuously. The batch operator's
  * design decision (per-row Poisson(1) replicate weights derived from the
  * row's OWN key) exists exactly so this maintainer can be trivial: a row's
  * 32 replicate weights are constants independent of what else has been
  * absorbed, so the per-(segment, replicate) moment cells (Σw·cents, Σw —
  * plus the exact moments as replicate −1) simply ADD across batches. That
  * is the sixth maintained measure class (after additive sums, distinct
  * sketches, heavy hitters, rates/quantile cells, and ordered milestones):
  * UNCERTAINTY-CARRYING metrics — and it rides the shared [[EpochStore]]
  * additive epoch-gated merge, here in its multi-column form (swc and sw
  * gate together per cell; a torn row is impossible).
  *
  * [[readBootstrap]] is DEFINITIONALLY the batch q169 over everything
  * absorbed (cell-for-cell equality is spec-pinned): read cost is
  * |segments|·(reps+1) rows, independent of absorbed volume. The classical
  * bootstrap cannot be maintained this way at all — it needs a global
  * resample index over the full history; the Poisson approximation is what
  * makes streaming uncertainty possible [Chamandy et al. 2012]. */
object BootstrapStream {

  /** Merge one micro-batch of joined order rows (segment, okey, cents) into
    * the (segment, replicate) moment-cell store. Idempotent per
    * (cell, epoch). */
  def applyBatch(spark: SparkSession, delta: DataFrame, cellsPath: String,
                 epoch: Long, reps: Int = 32): Unit =
    EpochStore.mergeAdditive(spark,
      Relational.bootstrapCells(delta, reps)
        .withColumn("cell", concat_ws("|", col("segment"), col("rep"))),
      cellsPath, "cell", epoch, Seq("swc", "sw"))

  /** Current per-segment mean + percentile-bootstrap interval from the
    * maintained cells — the q169 output shape, equal to the batch operator
    * over everything absorbed. */
  def readBootstrap(spark: SparkSession, cellsPath: String): DataFrame =
    Relational.bootstrapFromCells(
      Io.readDim(spark, cellsPath).select("segment", "rep", "swc", "sw"))
}
