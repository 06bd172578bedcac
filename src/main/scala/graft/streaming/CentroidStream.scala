package graft.streaming

import graft.io.Io
import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STREAMING CENTROID-DRIFT MAINTENANCE — the streaming twin of q193: the
  * per-source MMD sufficient statistics (count n, element-wise vector sum
  * Σq) are ADDITIVE across batches, so the maintainer is the EpochStore
  * epoch-gate discipline extended to a VECTOR value column — the merge is
  * `zip_with(stored, fresh, +)` next to the long count, gating together
  * per source (a torn row is impossible). [[readDrift]] derives centroids
  * and the pairwise matrix through the SAME `Similarity.driftFromSums` the
  * batch operator uses, so maintained ≡ batch-over-absorbed is
  * definitional once the sums match (CentroidStreamSpec pins both).
  *
  * This is the eighth maintained measure class: VECTOR-additive sufficient
  * statistics (after scalar-additive sums, distinct sketches, heavy
  * hitters, rate/quantile cells, ordered milestones, uncertainty moments,
  * LM count tables, and bottom-k sets). The production reading: embedding
  * drift between sources monitored continuously as the crawl ingests, one
  * K-row control-plane store at any volume. */
object CentroidStream {

  /** Merge one micro-batch of (source, embedding float[]) rows into the
    * sufficient-statistic store. Idempotent per (source, epoch). */
  def applyBatch(spark: SparkSession, delta: DataFrame, storePath: String,
                 epoch: Long): Unit = {
    val fresh = delta
      .select(col("source"),
        expr("transform(embedding, x -> cast(floor(cast(x as double) * 1048576.0) as int))")
          .as("q"))
      .groupBy("source")
      .agg(count(lit(1)).as("__dn"),
        graft.functions.Aggregators.vecSum(col("q")).as("__ds"))
    EpochStore.merge(spark, fresh, storePath, "source", epoch,
      "n bigint, s array<bigint>") { prev =>
      Seq(col("source"),
        (col("__dn") + coalesce(prev("n"), lit(0L))).as("n"),
        when(prev("s").isNull, col("__ds"))
          .otherwise(zip_with(col("__ds"), prev("s"), _ + _)).as("s"))
    }
  }

  /** Current pairwise drift matrix — the q193 output over everything
    * absorbed, via the shared batch read path. */
  def readDrift(spark: SparkSession, storePath: String): DataFrame =
    Similarity.driftFromSums(
      Io.readDim(spark, storePath).select("source", "n", "s"))
}
