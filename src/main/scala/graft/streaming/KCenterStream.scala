package graft.streaming

import graft.io.Io
import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STREAMING k-CENTER CORESET MAINTENANCE — the streaming twin of q199 via
  * a COMPOSABLE CORESET [Indyk et al. PODS'14; the two-level shape of
  * Charikar et al.'s streaming k-center and Guha et al.'s divide-and-
  * conquer clustering]: each micro-batch runs the SAME deterministic
  * Gonzalez traversal ([[Similarity.kcenterSelect]]) over its own rows and
  * lands its ≤ k picks as CANDIDATE rows; the read path runs the identical
  * traversal again over the stored candidate union. Per-batch selection is
  * a constant-factor k-center approximation of the batch, so the union is
  * a constant-factor composable coreset of everything absorbed — the read
  * answers from the candidate store (O(k) rows per absorbed batch, BOUNDED
  * by the cap check every maintenance step runs — see [[compact]]), never
  * re-scanning the corpus.
  *
  * This is the fifteenth maintained measure class and the first with a
  * BOUNDED-APPROXIMATION read instead of an exact one: the streamed trace
  * is NOT the single-level q199 trace (greedy is order-sensitive), but it
  * is (a) exactly equal to a deterministic two-level recompute — the spec's
  * equality gate — and (b) a constant-factor cover of the corpus — the
  * spec's radius audit (measured ≈ 1× on the fixture; gated ≤ 4× for
  * theorem-safe headroom).
  *
  * Idempotence: a candidate row is a PURE function of its vec_id's
  * embedding (grid + greedy over a deterministic batch), so replaying an
  * epoch recomputes identical rows and the vec_id-keyed upsert rewrites
  * them in place — the set-semantics store class (ConformalStream's
  * argument); `last_epoch` rides along for the replay audit only. */
object KCenterStream {

  /** Select ≤ k candidate centers from one micro-batch of
    * (vec_id, embedding float[]) rows and upsert them by vec_id, then run
    * the cap check ([[compact]]) so a long-running stream's store stays
    * bounded WITHOUT the driver remembering to schedule compaction — the
    * cap is part of the maintenance step, not a separate chore. */
  def applyBatch(spark: SparkSession, delta: DataFrame, storePath: String,
                 epoch: Long, k: Int = 8, capRows: Long = 1L << 16,
                 keep: Int = 64): Unit = {
    val pts = Similarity.kcenterPts(delta).persist()
    try {
      // an empty micro-batch is a normal no-op; kcenterSelect itself clamps
      // rounds at the point count and rejects empty frames loudly
      if (pts.count() > 0L) {
        val centers = Similarity.kcenterSelect(pts, k)
        val rows = centers.map(c => (c.vecId, c.qv, c.round, c.selD2, epoch))
        val cand = spark.createDataFrame(rows)
          .toDF("vec_id", "q", "batch_round", "sel_d2", "last_epoch")
        Io.upsertDim(spark, cand, storePath, "vec_id", "last_epoch")
        compact(spark, storePath, capRows, keep)
      }
    } finally { pts.unpersist(); () }
  }

  /** Current k centers over everything absorbed: the q199 traversal over
    * the stored candidates — (sel_round, center_vec_id, sel_d2) like the
    * batch trace, read cost independent of absorbed volume. */
  def readCenters(spark: SparkSession, storePath: String, k: Int = 8): DataFrame = {
    requireStore(storePath)
    val cand = Io.readDim(spark, storePath).select("vec_id", "q")
    val centers = Similarity.kcenterSelect(cand, k)
    spark.createDataFrame(centers.map(c => (c.round, c.vecId, c.selD2)))
      .toDF("sel_round", "center_vec_id", "sel_d2")
  }

  /** Read-path store guard (round-14 ADVICE #3): a stream that has only
    * absorbed EMPTY batches never creates the store ([[applyBatch]] is a
    * no-op on zero rows), so an unguarded Io.readDim would die with a raw
    * parquet path/schema error. [[compact]] already guards this case via
    * dimStoreHasData; the read paths route through here so they fail with
    * the named contract error instead. */
  private def requireStore(storePath: String): Unit =
    if (!Io.dimStoreHasData(storePath))
      throw new IllegalStateException(
        s"KCenterStream: candidate store at $storePath has absorbed no " +
          "batches yet (empty micro-batches do not create it) — nothing to " +
          "read; run the stream against non-empty input first")

  /** CAP-TRIGGERED COMPACTION — the unbounded-growth fix for a long-running
    * stream: the candidate store grows O(k) per micro-batch (a day of
    * 10-second batches is ~70k rows), so once it exceeds `capRows` it is
    * REPLACED by the `keep` Gonzalez-selected candidates of its own union —
    * a coreset of the coreset, landed through [[Io.rewriteDim]]'s
    * rename-aside swap (a crash before the swap leaves the old store live;
    * compaction is a pure function of the store content, so a retry
    * recomputes the same replacement). Each compaction composes one more
    * constant-factor level onto the approximation (the merge-and-reduce
    * trade [Indyk et al. PODS'14]); `keep` defaults to 8× the read k so the
    * compounding is slow — at cap 2¹⁶ and k = 8 a compaction absorbs ~8k
    * micro-batches, so levels stay logarithmically rare. A replayed
    * pre-compaction epoch may re-add candidates compaction removed; that
    * only REFINES the coreset (extra candidates are never wrong), and the
    * next compaction re-bounds it. `keep` rounds over the capped store are
    * the same bounded-literal expression class the k-round read path uses.
    * Compacted rows carry last_epoch = -1 (they no longer belong to one
    * source epoch; the store takes no epoch gate — see the class doc). */
  def compact(spark: SparkSession, storePath: String, capRows: Long = 1L << 16,
              keep: Int = 64): Unit = {
    require(keep > 0, s"compact: keep must be positive, got $keep")
    if (!Io.dimStoreHasData(storePath)) return
    val cand = Io.readDim(spark, storePath).select("vec_id", "q").persist()
    try {
      // trigger only when compaction can actually SHRINK: a store already
      // at ≤ keep rows would be rewritten byte-identically forever if the
      // check were capRows alone (pure swap churn)
      if (cand.count() > math.max(capRows, keep.toLong)) {
        val kept = Similarity.kcenterSelect(cand, keep)
        val rows = kept.map(c => (c.vecId, c.qv, c.round, c.selD2, -1L))
        Io.rewriteDim(spark, storePath, "vec_id",
          spark.createDataFrame(rows)
            .toDF("vec_id", "q", "batch_round", "sel_d2", "last_epoch"))
      }
    } finally { cand.unpersist(); () }
  }

  /** The chosen set itself (with grid vectors) — the spec's radius audit
    * assigns the corpus against it. */
  private[graft] def readChosen(spark: SparkSession, storePath: String,
                                k: Int = 8): Seq[Similarity.KCenter] = {
    requireStore(storePath)
    Similarity.kcenterSelect(
      Io.readDim(spark, storePath).select("vec_id", "q"), k)
  }
}
