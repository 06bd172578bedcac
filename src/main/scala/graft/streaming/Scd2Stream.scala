package graft.streaming

import graft.io.Io
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STREAMING SCD Type-2 dimension maintenance — the streaming twin of the
  * oracle-gated [[graft.operators.Relational.scd2History]] (q119), and the
  * history-keeping upgrade of the reference dim layer's last-writer-wins
  * upsert ([[Io.upsertDim]] / the Phoenix `upsert into` path, SURVEY A6):
  * instead of overwriting a changed dim row, each change CLOSES the
  * current validity interval and appends a new version.
  *
  * Layout decision that makes exactly-once possible: the store keeps ONE
  * ROW PER DIM KEY with the full interval history as an array<struct>
  * column — NOT one row per version. Per-version rows would hash to
  * DIFFERENT buckets of the upsert store, so a crash mid-publish could
  * close a user's open interval in one bucket while the replacement open
  * row in another bucket never lands; on replay the per-key epoch gate
  * would then either drop the missing tail or double-append. With the
  * whole history in one row, every user's update is ATOMIC under
  * [[Io.upsertDim]]'s per-bucket rename-aside commit, and the same
  * [[EpochStore]] per-key gate that protects [[IncrementalMv]] covers
  * partial commits here too. The cost is bounded: an SCD2 history holds
  * CHANGES only (noisy re-emissions collapse below), and a dim whose key
  * genuinely changes state unboundedly is mis-modeled as SCD2 anyway —
  * the array stays small for the workloads the pattern is for.
  *
  * Read back with [[readHistory]], which explodes the array into exactly
  * the q119 interval shape (one row per version, sentinel-closed).
  *
  * Ordering contract: batches arrive in rough event-time order (the same
  * watermark discipline every event-time operator here runs under);
  * within a batch the operator sorts. A straggler OLDER than a user's
  * open interval is dropped by a fold guard — see [[applyBatch]] — since
  * exact late repair would need the full uncompacted log.
  */
object Scd2Stream {

  private val historyType =
    "array<struct<state:string,valid_from:timestamp,valid_to:timestamp,version:int>>"

  /** Merge one micro-batch of the change log (user_id, state, event_time,
    * event_id) into the history store. Idempotent per (user, epoch). */
  def applyBatch(spark: SparkSession, delta: DataFrame, storePath: String,
                 epoch: Long): Unit = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("event_time"), col("event_id"))
    // in-batch collapse of consecutive duplicate states (per-user windows —
    // bounded by one user's batch traffic), then ONE ordered change array
    // per user so the merge below is a single row-local fold
    val changes = delta
      .select(col("user_id"), col("state"), col("event_time"), col("event_id"))
      .withColumn("__prev", lag(col("state"), 1).over(w))
      .filter(col("__prev").isNull || col("__prev") =!= col("state"))
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(
        col("event_time"), col("event_id"), col("state")))).as("__changes"))
    // per-user epoch gate (replay / partial-commit recovery), then the fold:
    // append each change unless it repeats the current open state; a real
    // change closes the open interval at the change's timestamp.
    //
    // ORDERING CONTRACT: changes apply at or after the open interval's
    // valid_from; an OLDER straggler (cross-batch reordering past the
    // open interval) is dropped by the fold's first branch — without the
    // guard it would close the open interval with valid_to BEFORE its
    // valid_from and flip is_current to the stale state. Exact repair of
    // such stragglers needs the full event log (collapsed no-op events are
    // unrecoverable from compacted history by construction), so the
    // watermark discipline applies: bound disorder upstream (the same
    // contract every event-time window in streaming/ runs under), and the
    // guard turns what leaks past it from silent corruption into a
    // dropped-late-row, the standard late-data semantics.
    EpochStore.merge(spark, changes, storePath, "user_id", epoch,
      s"history $historyType") { prev =>
      Seq(col("user_id"),
        aggregate(
          col("__changes"),
          coalesce(prev("history"), expr("array()").cast(historyType)),
          (acc, c) => {
            val last = element_at(acc, -1)
            when(size(acc) > 0 &&
                c.getField("event_time") < last.getField("valid_from"), acc)
              .when(size(acc) > 0 && last.getField("state") === c.getField("state"), acc)
              .otherwise(concat(
                slice(acc, lit(1), greatest(size(acc) - 1, lit(0))),
                when(size(acc) > 0, array(struct(
                  last.getField("state").as("state"),
                  last.getField("valid_from").as("valid_from"),
                  c.getField("event_time").as("valid_to"),
                  last.getField("version").as("version"))))
                  .otherwise(expr("array()").cast(historyType)),
                array(struct(
                  c.getField("state").as("state"),
                  c.getField("event_time").as("valid_from"),
                  lit(null).cast("timestamp").as("valid_to"),
                  // guard the lookup: element_at on an empty array is an
                  // ANSI error, and this arm is reached with empty acc
                  (when(size(acc) > 0, last.getField("version"))
                    .otherwise(lit(0)) + 1).as("version")))))
          }
        ).as("history"))
    }
  }

  /** Current history in the q119 interval shape: one row per version,
    * open intervals closed with the 9999-12-31 sentinel. */
  def readHistory(spark: SparkSession, storePath: String): DataFrame =
    Io.readDim(spark, storePath)
      .select(col("user_id"), explode(col("history")).as("h"))
      .select(col("user_id"), col("h.state").as("state"),
        date_format(col("h.valid_from"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
        coalesce(date_format(col("h.valid_to"), "yyyy-MM-dd HH:mm:ss"),
          lit("9999-12-31 23:59:59")).as("valid_to"),
        col("h.version").as("version"),
        col("h.valid_to").isNull.as("is_current"))
}
