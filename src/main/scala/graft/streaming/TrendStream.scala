package graft.streaming

import graft.io.Io
import graft.operators.Relational
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STREAMING TRENDING MAINTENANCE — the streaming twin of q158's decayed
  * popularity: the batch operator's design decision (decay anchored to
  * EVENT time on absolute Monday-epoch weeks, not to "now") exists exactly
  * so this maintainer can be trivial. A batch's (item, week) counts are
  * constants independent of what else has been absorbed, so maintenance is
  * the shared [[EpochStore]] additive epoch-gated merge, and the maintained
  * cells are CELL-FOR-CELL equal to a batch recompute — which makes
  * [[readTrending]] DEFINITIONALLY equal to the batch q158 over everything
  * absorbed (spec-pinned). Re-anchoring to the store's own week span
  * happens at READ time ([[Relational.trendingFromCells]]), so no stored
  * value is ever rewritten as time advances — the property a
  * decay-at-read (stored·λ^Δ) design gives up.
  *
  * State size: items × active weeks — bounded by the item domain and the
  * retention horizon (fully-decayed weeks, w < maxw−63, can be dropped
  * without changing any reported score: their shifted contribution
  * underflows the dyadic scale). */
object TrendStream {

  /** Merge one micro-batch of raw event rows (props, event_time) into the
    * (item, week) cell store. Idempotent per (cell, epoch). */
  def applyBatch(spark: SparkSession, delta: DataFrame, cellsPath: String,
                 epoch: Long): Unit =
    EpochStore.mergeAdditive(spark,
      Relational.trendCells(delta)
        .withColumn("cell", concat_ws("|", col("item"), col("w"))),
      cellsPath, "cell", epoch, Seq("ct"))

  /** Current trending ranking from the maintained cells — the q158 output
    * shape, equal to the batch operator over everything absorbed. */
  def readTrending(spark: SparkSession, cellsPath: String): DataFrame =
    Relational.trendingFromCells(
      Io.readDim(spark, cellsPath).select("item", "w", "ct"))
}
