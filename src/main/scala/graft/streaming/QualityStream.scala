package graft.streaming

import graft.io.Io
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STREAMING INCREMENTAL DATA-QUALITY METRICS — the streaming twin of the
  * oracle-gated [[graft.operators.Quality.qualityChecks]] (q131), and the
  * other half of the Deequ design (Schelter et al., VLDB 2018): constraint
  * metrics carry an ALGEBRAIC STATE so a growing table's quality report
  * updates per ingest batch without ever re-scanning what's already
  * ingested — at 100 TB, re-running the batch checker per micro-batch is
  * exactly the table-proportional cost this kills.
  *
  * State per monitored table = ONE ROW (the [[Scd2Stream]] atomic-row
  * trick): every row-local measure is a sum/min (merges by +/min), and the
  * one holistic measure — key uniqueness — rides as a DataSketches HLL of
  * the key column. The counter state is bit-stable under any batch split;
  * the SKETCH estimate is split-sensitive within its error bound (a
  * DataSketches HLL promotes sparse→dense at a union-history-dependent
  * point — the q117 discipline: equivalence with a recompute is within
  * tolerance, not bitwise).
  * Uniqueness therefore downgrades honestly from EXACT (batch q131) to
  * APPROXIMATE with the sketch's error: [[readChecks]] flags when
  * estimate/size < 1 − tol, i.e. it catches duplication above the
  * tolerance, never sub-percent dups — the documented trade for O(1)
  * state. Referential-integrity checks stay with the batch checker (they
  * need the parent keyset, not a per-table state; the q107 bloom pre-pass
  * is the streaming-shaped triage).
  *
  * Exactly-once: the single state row carries `last_epoch`, and the
  * [[EpochStore]] per-key gate on `t` drops a replayed epoch (one row
  * cannot partially commit). */
object QualityStream {

  /** Algebraic quality state of one micro-batch of `orders` rows. */
  def deltaAgg(delta: DataFrame): DataFrame =
    delta.agg(
      count(lit(1)).as("size"),
      sum(when(col("o_custkey").isNotNull, 1L).otherwise(0L)).as("nn_custkey"),
      sum(when(col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L))
        .as("ok_status"),
      sum(when(col("o_totalprice") > 0, 1L).otherwise(0L)).as("pos_price"),
      min(col("o_totalprice")).as("min_price"),
      hll_sketch_agg(col("o_orderkey")).as("key_sketch"))

  /** Merge one micro-batch into the state store. Idempotent per epoch. */
  def applyBatch(spark: SparkSession, delta: DataFrame, storePath: String,
                 epoch: Long): Unit = {
    val d = deltaAgg(delta)
    // the state columns are typed as the batch's own aggregate
    EpochStore.merge(spark, d.withColumn("t", lit("orders")), storePath, "t", epoch,
      d.schema.toDDL) { prev =>
      def add(c: String) = (col(c) + coalesce(prev(c), lit(0L))).as(c)
      Seq(col("t"), add("size"), add("nn_custkey"), add("ok_status"), add("pos_price"),
        least(col("min_price"), prev("min_price")).as("min_price"),
        when(prev("key_sketch").isNull, col("key_sketch"))
          .otherwise(hll_union(col("key_sketch"), prev("key_sketch"))).as("key_sketch"))
    }
  }

  /** The q131-shaped constraint report from the maintained state — read
    * cost independent of how much the stream has absorbed. */
  def readChecks(spark: SparkSession, storePath: String,
                 tol: Double = 0.05): DataFrame = {
    val s = Io.readDim(spark, storePath)
      .withColumn("key_est", hll_sketch_estimate(col("key_sketch")))
    def check(name: String, metric: org.apache.spark.sql.Column,
              passed: org.apache.spark.sql.Column): DataFrame =
      s.select(lit(name).as("check"), col("t").as("entity"),
        metric.cast("double").as("metric"), passed.as("passed"))
    def frac(c: org.apache.spark.sql.Column) = c.cast("double") / col("size")
    Seq(
      check("size_min", col("size"), col("size") >= 1L),
      check("completeness_custkey", frac(col("nn_custkey")),
        col("nn_custkey") === col("size")),
      check("compliance_status", frac(col("ok_status")),
        col("ok_status") === col("size")),
      check("range_totalprice", frac(col("pos_price")),
        col("pos_price") === col("size")),
      check("uniqueness_orderkey_approx", col("key_est") / col("size"),
        col("key_est") / col("size") >= 1.0 - tol))
      .reduce(_ unionByName _)
  }
}
