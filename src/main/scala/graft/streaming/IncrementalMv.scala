package graft.streaming

import graft.io.Io
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STREAMING incremental materialized-view maintenance — the streaming twin
  * of [[graft.operators.Relational.incrementalStats]] (q115) and the
  * Spark-first form of the reference's continuously-updated DWS stats
  * (ProductStatsApp keeps product aggregates current per window; here the
  * MV is a STORED table a micro-batch merges into).
  *
  * Per micro-batch: aggregate ONLY the delta (all measures algebraic —
  * count/sum merge by +, max by max), merge with the store rows of the
  * touched keys, and publish through [[Io.upsertDim]]'s bucketed
  * rename-aside commit (write amplification batch-proportional, never
  * table-proportional).
  *
  * Exactly-once across failures WITHOUT sink transactions: the
  * [[EpochStore]] per-key `last_epoch` gate makes replays and partial
  * bucket commits no-ops per key. This is the idempotent-merge discipline
  * every exactly-once aggregation sink at 100 TB reduces to (Delta/Iceberg
  * MERGE with a txn-id column plays the same trick); the JDBC twin of the
  * same idea is [[Io.appendIdempotent]]'s epoch table.
  *
  * Holistic measures (exact distinct) don't merge; the mergeable-sketch
  * form DOES — set `distinctCol` and the MV carries a DataSketches HLL
  * sketch per key (`uv_sketch` BINARY): per-batch `hll_sketch_agg`
  * partials, merged with `hll_union` on replay-surviving keys, estimated
  * on read. Same per-key epoch discipline — a replayed epoch's union is
  * dropped before it happens, so the sketch never absorbs a batch twice
  * (unions are idempotent per element but NOT per batch when later epochs
  * interleave; the epoch gate makes the stronger guarantee). The
  * oracle-gated batch twin is
  * [[graft.operators.Relational.incrementalStatsSketch]] (q117). */
object IncrementalMv {

  /** Algebraic per-(event_type, event_date) aggregate of one micro-batch.
    * `delta` needs event_time (timestamp) + event_type + value, plus
    * `distinctCol` when a distinct-sketch measure is maintained. */
  def deltaAgg(delta: DataFrame, distinctCol: Option[String] = None): DataFrame = {
    val keyed = delta
      .select(Seq(col("event_type"), to_date(col("event_time")).as("event_date"),
        floor(col("value") * 100).cast("long").as("cents")) ++
        distinctCol.map(col): _*)
    val measures = Seq(count(lit(1)).as("ct"), sum(col("cents")).as("sum_cents"),
      max(col("cents")).as("max_cents")) ++
      distinctCol.map(c => hll_sketch_agg(col(c)).as("uv_sketch"))
    keyed.groupBy("event_type", "event_date")
      .agg(measures.head, measures.tail: _*)
  }

  /** Merge one micro-batch into the MV store. Idempotent per (key, epoch):
    * re-applying the same epoch is a no-op for keys already at it. */
  def applyBatch(spark: SparkSession, delta: DataFrame, storePath: String,
                 epoch: Long, distinctCol: Option[String] = None): Unit = {
    val d = deltaAgg(delta, distinctCol).withColumn("k",
      concat_ws("|", col("event_type"), col("event_date").cast("string")))
    val stored = "ct bigint, sum_cents bigint, max_cents bigint" +
      distinctCol.fold("")(_ => ", uv_sketch binary")
    EpochStore.merge(spark, d, storePath, "k", epoch, stored) { prev =>
      Seq(col("k"), col("event_type"), col("event_date"),
        (col("ct") + coalesce(prev("ct"), lit(0L))).as("ct"),
        (col("sum_cents") + coalesce(prev("sum_cents"), lit(0L))).as("sum_cents"),
        greatest(col("max_cents"), coalesce(prev("max_cents"), col("max_cents")))
          .as("max_cents")) ++
        // a first-seen key has no prior sketch: hll_union rejects null, so
        // branch instead of coalescing into it
        distinctCol.map(_ =>
          when(prev("uv_sketch").isNull, col("uv_sketch"))
            .otherwise(hll_union(col("uv_sketch"), prev("uv_sketch")))
            .as("uv_sketch"))
    }
  }

  /** Read the current MV (drops the layout/epoch bookkeeping columns; a
    * sketch measure, if maintained, surfaces as its ESTIMATE — the binary
    * itself is storage detail). */
  def readMv(spark: SparkSession, storePath: String): DataFrame = {
    val s = Io.readDim(spark, storePath).drop("k", "last_epoch")
    if (s.columns.contains("uv_sketch"))
      s.withColumn("uv_estimate", hll_sketch_estimate(col("uv_sketch")))
        .drop("uv_sketch")
    else s
  }

  /** Pairwise audience overlap BETWEEN event types, answered ENTIRELY from
    * the maintained MV's sketches — the streaming twin of the oracle-gated
    * [[graft.operators.Relational.audienceOverlap]] (q118): per-type sketch
    * = `hll_union_agg` of that type's per-date partials (algebraic — the MV
    * already paid the only corpus scan), overlap = inclusion-exclusion over
    * the K(K−1)/2 pair merges of fixed-size sketches. A continuously
    * maintained cross-corpus overlap report whose read cost is independent
    * of how much data the stream has absorbed. */
  def readOverlap(spark: SparkSession, storePath: String): DataFrame = {
    val s = Io.readDim(spark, storePath)
    require(s.columns.contains("uv_sketch"),
      "readOverlap needs a sketch measure — run the MV with distinctCol set")
    val perType = s.groupBy("event_type")
      .agg(hll_union_agg(col("uv_sketch")).as("sk"))
    val a = perType.select(col("event_type").as("type_a"), col("sk").as("sk_a"))
    val b = perType.select(col("event_type").as("type_b"), col("sk").as("sk_b"))
    a.join(b, col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"),
        hll_sketch_estimate(col("sk_a")).as("est_a"),
        hll_sketch_estimate(col("sk_b")).as("est_b"),
        (hll_sketch_estimate(col("sk_a")) + hll_sketch_estimate(col("sk_b"))
          - hll_sketch_estimate(hll_union(col("sk_a"), col("sk_b"))))
          .as("est_overlap"))
  }
}
