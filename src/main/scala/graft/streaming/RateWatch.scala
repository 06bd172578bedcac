package graft.streaming

import graft.io.Io
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STREAMING INGEST-RATE MONITORING — the streaming twin of the
  * oracle-gated anomaly detector (q138): maintain per-(event_type, hour)
  * arrival counts as an exactly-once MV, and answer "which hours look
  * anomalous" from the store at read time. This is the ops loop every
  * 100 TB ingest runs: the write path pays O(delta) per micro-batch, the
  * detector runs over the (types × hours) GRID — cost independent of
  * absorbed volume.
  *
  * Write path = the [[IncrementalMv]] discipline exactly: per-batch counts
  * are algebraic (merge by +), each (type, hour) row carries `last_epoch`,
  * replayed epochs drop per key, partial bucket commits recover per key.
  *
  * Read path re-grids the stored counts onto the dense [min, max] hour
  * axis (zero-filling gaps — q122's move, which is what lets a FULL OUTAGE
  * hour flag at all: an hour with no arrivals has no stored row) and runs
  * [[graft.operators.Relational.anomalyZscoreFrom]] over it — so the
  * streaming detector is DEFINITIONALLY the oracle-gated batch one over
  * the maintained counts (spec pins streaming ≡ batch on the real table,
  * plus the stronger property that the detector output is reproducible
  * mid-stream at every epoch). */
object RateWatch {

  /** Per-batch hourly counts of `delta` (needs event_type + event_time). */
  def deltaAgg(delta: DataFrame): DataFrame =
    delta.select(col("event_type"), date_trunc("hour", col("event_time")).as("h"))
      .groupBy("event_type", "h")
      .agg(count(lit(1)).as("ct"))

  /** Merge one micro-batch into the counts store. Idempotent per (key, epoch). */
  def applyBatch(spark: SparkSession, delta: DataFrame, storePath: String,
                 epoch: Long): Unit =
    EpochStore.mergeAdditive(spark,
      deltaAgg(delta).withColumn("k",
        concat_ws("|", col("event_type"), col("h").cast("string"))),
      storePath, "k", epoch, Seq("ct"))

  /** The maintained counts as the dense zero-filled (type × hour) grid. */
  def readGrid(spark: SparkSession, storePath: String): DataFrame = {
    val s = Io.readDim(spark, storePath).select("event_type", "h", "ct")
    val axis = s.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(explode(sequence(col("h0"), col("h1"),
        expr("interval 1 hour"))).as("h"))
    val types = s.select("event_type").distinct()
    types.crossJoin(axis)
      .join(s, Seq("event_type", "h"), "left")
      .select(col("event_type"),
        date_format(col("h"), "yyyy-MM-dd HH:00:00").as("hour"),
        coalesce(col("ct"), lit(0L)).as("ct"))
  }

  /** Anomalies over the maintained grid — the q138 detector verbatim. */
  def readAnomalies(spark: SparkSession, storePath: String,
                    win: Int = 24): DataFrame =
    graft.operators.Relational.anomalyZscoreFrom(readGrid(spark, storePath), win)
}
