package graft.streaming

import graft.io.Io
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STREAMING CONFORMAL CALIBRATION — the streaming twin of q184's
  * split-conformal thresholds: the calibration set is the `calK` SMALLEST
  * md5 hashes seen so far, and "k smallest of a union" is the order-free,
  * idempotent-per-element set merge [[SampleStream]] proved out — bottom-k
  * of (stored ∪ batch) equals bottom-k of everything absorbed regardless
  * of batch boundaries, INCLUDING evictions (a later batch's smaller hash
  * pushes an earlier member out, exactly as a batch recompute would). So
  * [[readThresholds]] is definitionally the batch q184 threshold table
  * over the absorbed corpus (spec-pinned), and the conformal guarantee
  * keeps holding as the stream grows because the calibration draw stays
  * an exchangeable hash sample of everything absorbed.
  *
  * What is deliberately NOT maintained: q184's held-out coverage audit.
  * Membership and thresholds are functions of the evolving calibration
  * set, so past docs' pass/fail verdicts are not additive state — coverage
  * is a batch-time evaluation over a stored corpus, not stream state.
  *
  * State: ONE row — calK (hash, doc_id, score) candidates + the absorbed
  * doc count — control-plane sized at any volume. The epoch gate is
  * load-bearing only for the additive count (set merges are replay-proof
  * by themselves, the SampleStream argument). */
object ConformalStream {

  private val candType = "array<struct<h:bigint,doc_id:bigint,score:bigint>>"

  private def emptyCands: Column = expr("array()").cast(candType)

  /** Merge one micro-batch of scored docs (doc_id, score) into the
    * calibration store. Idempotent per epoch; the candidate set is
    * idempotent per doc. */
  def applyBatch(spark: SparkSession, delta: DataFrame, storePath: String,
                 epoch: Long, calK: Int = 64): Unit = {
    val fresh = delta
      .select(col("doc_id"), col("score"),
        conv(substring(md5(concat(lit("conf_"),
          col("doc_id").cast("string")).cast("binary")), 1, 13), 16, 10)
          .cast("long").as("h"))
      .agg(count(lit(1)).as("__delta_ct"),
        graft.functions.Aggregators.topK(calK,
          negate(col("h")).cast("double"), col("doc_id"), col("score")).as("top"))
      .withColumn("__cands", expr(
        // h rides back out of the sort value: -v is exact (h < 2^52)
        "transform(top, s -> named_struct('h', cast(-s.v as bigint), " +
          "'doc_id', s.id, 'score', s.p))").cast(candType))
      .select(lit("all").as("k"), col("__delta_ct"), col("__cands"))
    // Dedup is per (h, doc_id), NOT per full struct: a doc re-delivered
    // with a mutated score must yield ONE calibration entry, with the MAX
    // score as the deterministic winner (round-11 ADVICE #4 — the old
    // array_distinct kept both rows). Ascending struct sort puts the max
    // score LAST within each (h, doc_id) group, so keep each element whose
    // successor starts a different doc. total_docs, by contrast, counts
    // DELIVERIES: the store contract is each doc_id ingested once (same-
    // epoch replays are gated below); cross-epoch re-ingestion drifts the
    // count by the duplicate rate — exact dedup there would need per-doc
    // state, which this one-row store exists to avoid.
    EpochStore.merge(spark, fresh, storePath, "k", epoch,
      s"total_docs bigint, cands $candType") { prev =>
      val all = array_sort(concat(coalesce(prev("cands"), emptyCands), col("__cands")))
      Seq(col("k"),
        (col("__delta_ct") + coalesce(prev("total_docs"), lit(0L))).as("total_docs"),
        // null-SAFE <=> (round-12 ADVICE #4): with plain `=`, a null
        // h/doc_id makes the predicate NULL and filter() silently DROPS
        // the element from the calibration set; <=> keeps the keep/dedup
        // decision total even if an upstream change violates the current
        // non-null contract
        slice(filter(all, (x, i) => i + 1 >= size(all) || !(
          all(i + 1)("h") <=> x("h") && all(i + 1)("doc_id") <=> x("doc_id"))),
          1, calK).as("cands"))
    }
  }

  /** Current per-α conformal thresholds from the maintained calibration
    * set — the q184 threshold columns over everything absorbed. */
  def readThresholds(spark: SparkSession, storePath: String,
                     alphas: Seq[Int] = Seq(5, 10, 20)): DataFrame =
    Io.readDim(spark, storePath)
      .select(col("total_docs"),
        size(col("cands")).cast("long").as("n_cal"),
        array_sort(expr("transform(cands, c -> c.score)")).as("cal_scores"),
        explode(array(alphas.map(lit(_)): _*)).as("alpha_pct"))
      .withColumn("k_rank", expr("((n_cal + 1) * alpha_pct) div 100"))
      .withColumn("threshold",
        when(col("k_rank") >= 1, element_at(col("cal_scores"), col("k_rank").cast("int")))
          .otherwise(lit(Long.MinValue)))
      .select(col("alpha_pct"), col("n_cal"), col("k_rank"), col("threshold"),
        col("total_docs"))
}
