package graft.streaming

import graft.io.Io
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STREAMING QUOTA-SAMPLE MAINTENANCE — the streaming twin of q164's
  * deterministic corpus balancing, and the set-semantics member of the
  * maintainer family: per stratum the store holds the k SMALLEST
  * (md5-hash, doc_id) candidates seen so far, and "k smallest of a union"
  * is an order-free, IDEMPOTENT-PER-ELEMENT merge — bottom-k of
  * (stored ∪ batch) equals bottom-k of everything absorbed, whatever the
  * batch boundaries were. That makes [[readSample]] DEFINITIONALLY the
  * batch [[graft.operators.TextOps.quotaSample]] over the absorbed corpus
  * (spec-pinned), the same anchoring trick as TrendStream: the per-doc
  * sample key is a constant of the doc, so state never needs rewriting.
  *
  * Replays are harmless even WITHOUT the epoch gate (re-unioning the same
  * docs is a set no-op), but the per-key `last_epoch` gate is kept anyway:
  * it makes recovery uniform across the maintainer family and skips the
  * rewrite work on replayed keys. Stratum counts ride along additively —
  * THOSE are not idempotent, so the gate is load-bearing for the count
  * column exactly as in [[EpochStore.mergeAdditive]].
  *
  * State: one row per stratum, k candidates + a count — control-plane
  * sized regardless of absorbed volume. */
object SampleStream {

  private val candType = "array<struct<h:bigint,doc_id:bigint>>"

  private def emptyCands: Column =
    expr("array()").cast(candType)

  /** Merge one micro-batch of docs (doc_id, lang) into the sample store.
    * Idempotent per (stratum, epoch); candidate sets idempotent per doc. */
  def applyBatch(spark: SparkSession, delta: DataFrame, storePath: String,
                 epoch: Long, cap: Int = 64): Unit = {
    val fresh = delta
      .select(col("lang"),
        conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10)
          .cast("long").as("h"),
        col("doc_id"))
      .groupBy("lang")
      .agg(count(lit(1)).as("__delta_ct"),
        graft.functions.Aggregators.topK(cap,
          negate(col("h")).cast("double"), col("doc_id"), col("h")).as("top"))
      .withColumn("__cands", expr(
        "transform(top, s -> named_struct('h', s.p, 'doc_id', s.id))")
        .cast(candType))
      .select(col("lang"), col("__delta_ct"), col("__cands"))
    EpochStore.merge(spark, fresh, storePath, "lang", epoch,
      s"stratum_docs bigint, cands $candType") { prev =>
      Seq(col("lang"),
        (col("__delta_ct") + coalesce(prev("stratum_docs"), lit(0L))).as("stratum_docs"),
        slice(array_sort(array_distinct(
          concat(coalesce(prev("cands"), emptyCands), col("__cands")))),
          1, cap).as("cands"))
    }
  }

  /** The maintained sample in the q164 output shape — equal to the batch
    * operator over everything absorbed. */
  def readSample(spark: SparkSession, storePath: String): DataFrame =
    Io.readDim(spark, storePath)
      .select(col("lang"), col("stratum_docs"), posexplode(col("cands")))
      .select(col("lang"), col("stratum_docs"),
        (col("pos") + 1).cast("int").as("r"),
        col("col.doc_id").as("doc_id"), col("col.h").as("h"))
}
