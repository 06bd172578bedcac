package graft.streaming

import graft.io.Io
import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STREAMING ENTITY REGISTRY — exactly-once micro-batched maintenance of a
  * fuzzy-identity dimension store: the streaming twin of the oracle-gated
  * [[graft.operators.Dedup.ingestLinkage]] (q129), on the same
  * [[Io.upsertDim]] + per-key epoch-gate discipline as [[IncrementalMv]]
  * and [[Scd2Stream]]. Each arriving row links against the REGISTRY ONLY
  * (batch × store blocked equi-joins, never store × store — stored rows
  * resolved when they arrived) and lands with a canonical `entity_id`:
  * its best match's entity at the threshold, else itself.
  *
  * Two design points carry the exactly-once story:
  *
  *  1. **Linkage reads only earlier epochs.** The registry snapshot used
  *     for matching is filtered to `last_epoch < epoch`. Without this, a
  *     crash after a PARTIAL bucket commit would let replayed rows match
  *     their own landed batch-mates — the replay would assign different
  *     entities than the original attempt (nondeterministic under crash
  *     placement). With it, a replay sees exactly the registry the
  *     original attempt saw, so re-linking is bit-identical and the
  *     per-key `last_epoch >= epoch` gate makes the re-upsert a no-op for
  *     rows that did land. (The [[Scd2Stream]] analogue got atomicity by
  *     keeping each user's state in one row; here the cross-row reference
  *     — an entity id — is immutable once assigned, so determinism of the
  *     assignment is the property to protect.)
  *
  *  2. **Entity ids are FIRST-WINS.** A re-arriving known key (a genuine
  *     CDC update in a later epoch) updates its attributes but keeps its
  *     stored `entity_id` — identity is stable under attribute churn,
  *     which is what makes the id usable as a join key downstream.
  *
  * Intra-batch matches (two arriving rows matching each other, neither in
  * the registry) deliberately become SEPARATE new entities — the same
  * batch×store contract as q129; periodic closure over accumulated
  * matches is the batch [[graft.operators.Dedup.entityGroups]] (q130).
  *
  * Scale: the registry side of the blocked joins is bucket-pruned only by
  * the block keys (nation/segment/suffix), i.e. one scan of the registry
  * per batch — at 100 TB the registry store would add persistent indexes
  * on the block keys (bucketBy(nation) is the natural layout via
  * [[Io.upsertDim]]'s bucket column); the candidate volume after blocking
  * is batch-proportional either way.
  */
object EntityRegistry {

  private val threshold = 60

  /** Merge one micro-batch of arriving rows into the registry. `batch`
    * needs (c_custkey, c_name, c_nationkey, c_mktsegment, cents).
    * Idempotent per (key, epoch); deterministic under partial-commit
    * replay (see object doc #1). */
  def applyBatch(spark: SparkSession, batch: DataFrame, storePath: String,
                 epoch: Long): Unit = {
    val base = batch.select(col("c_custkey"), col("c_name"),
      col("c_nationkey"), col("c_mktsegment"), col("cents"))
    if (!Io.dimStoreHasData(storePath)) {
      Io.upsertDim(spark, base
        .withColumn("entity_id", col("c_custkey"))
        .withColumn("best_score", lit(0))
        .withColumn("matched", lit(false))
        .withColumn("last_epoch", lit(epoch)),
        storePath, "c_custkey", "last_epoch")
      return
    }
    // ONE store read per batch, released in the finally — a long-running
    // stream must not accumulate one pinned registry snapshot per batch
    val store = Io.readDim(spark, storePath).persist()
    try {
      // only rows committed in EARLIER epochs are visible to linkage —
      // replay determinism under partial commits (object doc #1)
      val reg = store.filter(col("last_epoch") < epoch)
      val best = Dedup.linkScored(Dedup.linkCandidates(
        Dedup.linkPrefixed(base, "a"), Dedup.linkPrefixed(reg, "b"),
        lit(true)))
        .groupBy("a_key")
        .agg(max_by(struct(col("b_key"), col("lev"), col("score")),
          struct(col("score"), negate(col("lev")), negate(col("b_key")))).as("m"))
        .select(col("a_key"), col("m.b_key").as("__bk"),
          col("m.score").as("__score"))
        // matched entity = the REGISTRY row's entity (transitive ref)
        .join(reg.select(col("c_custkey").as("__bk"),
          col("entity_id").as("__match_entity")), Seq("__bk"), "left")
      // first-wins: a known key keeps its stored entity across updates
      val known = reg.select(col("c_custkey"),
        col("entity_id").as("__own_entity"))
      val resolved = base
        .join(best, col("c_custkey") === col("a_key"), "left")
        .join(known, Seq("c_custkey"), "left")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_mktsegment"), col("cents"),
          coalesce(col("__own_entity"),
            when(col("__score") >= threshold, col("__match_entity")),
            col("c_custkey")).as("entity_id"),
          coalesce(col("__score"), lit(0)).cast("int").as("best_score"),
          (coalesce(col("__score"), lit(0)) >= threshold &&
            col("__own_entity").isNull).as("matched"))
      // upsertDim's orderCol = last_epoch gives per-key last-writer-wins;
      // replayed epochs tie on last_epoch and a stored row with the SAME
      // epoch must win over its replay re-computation — drop replayed keys
      // explicitly, exactly as IncrementalMv/Scd2Stream gate them
      val deduped = resolved
        .withColumn("last_epoch", lit(epoch))
        .join(store.select(col("c_custkey"), col("last_epoch").as("__le")),
          Seq("c_custkey"), "left")
        .filter(col("__le").isNull || col("__le") < epoch)
        .drop("__le")
      Io.upsertDim(spark, deduped, storePath, "c_custkey", "last_epoch")
    } finally store.unpersist(blocking = false)
  }

  /** Current registry: one row per key with its canonical entity_id. */
  def readRegistry(spark: SparkSession, storePath: String): DataFrame =
    Io.readDim(spark, storePath)
}
