package graft.streaming

import graft.io.Io
import graft.operators.Relational
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STREAMING FUNNEL MAINTENANCE — the streaming twin of q165's day-grain
  * funnel, and a fourth STATE CLASS for the exactly-once maintainers:
  * ordered-milestone state (after additive cells, mergeable sketches, and
  * interval histories). Per (user, day) the store holds the milestone
  * struct (v, c, p, lt); each micro-batch applies the SAME
  * [[Relational.milestoneFold]] the batch operator uses, starting from the
  * stored state instead of the empty one — so the maintained store is
  * KEY-FOR-KEY equal to a batch recompute over everything absorbed, and
  * [[readFunnel]] is DEFINITIONALLY the batch q165 (both are
  * [[Relational.funnelCounts]] over milestone frames; spec-pinned on real
  * data).
  *
  * Why milestones and not events: the funnel needs only "has stage k
  * happened, and when" — a compacted monotone state. That is what makes
  * the maintainer cheap (state = one small row per active user-day,
  * batch work ∝ delta) and what makes exact late-data repair impossible:
  * a straggler view older than the frontier cannot re-qualify clicks the
  * state no longer holds, so the fold's frontier guard DROPS it — the
  * Scd2Stream watermark discipline, drop-not-corrupt (spec-pinned).
  *
  * Exactly-once is the standard [[EpochStore]] per-key gate over the
  * bucketed upsert store: replays and partial bucket commits re-apply only
  * keys the epoch has not reached, and re-application is deterministic from
  * (stored state, batch) — crash-placement independent. State expiry: a
  * user-day stops changing once the day is out of the ingest horizon;
  * rows older than the retention window can be dropped after folding into
  * the daily counts (the [[IncrementalMv]] compaction story).
  */
object FunnelStream {

  /** Merge one micro-batch of events (user_id, event_time, event_id,
    * event_type) into the milestone store. Idempotent per (key, epoch). */
  def applyBatch(spark: SparkSession, delta: DataFrame, storePath: String,
                 epoch: Long): Unit = {
    val changes = delta
      .select(col("user_id"), date_trunc("day", col("event_time")).as("d"),
        unix_micros(col("event_time")).as("tsm"), col("event_id").as("eid"),
        col("event_type").as("tp"))
      .groupBy("user_id", "d")
      .agg(sort_array(collect_list(struct(col("tsm"), col("eid"), col("tp"))))
        .as("__evs"))
      .withColumn("k",
        concat_ws("|", col("user_id"), date_format(col("d"), "yyyy-MM-dd")))
    EpochStore.merge(spark, changes, storePath, "k", epoch,
      "v bigint, c bigint, p bigint, lt bigint") { prev =>
      val m = Relational.milestoneFold(col("__evs"),
        struct(prev("v").as("v"), prev("c").as("c"), prev("p").as("p"),
          coalesce(prev("lt"), lit(-1L)).as("lt")))
      // inline spreads the folded struct into v, c, p, lt: one fold per row
      Seq(col("k"), col("user_id"), col("d"), inline(array(m)))
    }
  }

  /** Daily funnel counts from the maintained milestones — the q165 output
    * shape, equal to the batch operator over everything absorbed. */
  def readFunnel(spark: SparkSession, storePath: String): DataFrame =
    Relational.funnelCounts(
      Io.readDim(spark, storePath).select("user_id", "d", "v", "c", "p"))
}
