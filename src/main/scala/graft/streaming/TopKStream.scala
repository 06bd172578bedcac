package graft.streaming

import graft.io.Io
import graft.operators.Relational
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STREAMING HEAVY-HITTER MAINTENANCE — the streaming twin of the sketch
  * family's counting members (q111's Count-Min cells, q132's Misra–Gries):
  * continuously answer "which keys dominate this stream so far" with state
  * that never grows past the sketch size, under the same exactly-once
  * discipline as [[IncrementalMv]].
  *
  * Two stored artifacts, committed IN THIS ORDER each micro-batch:
  *
  *  1. CELLS — the 4×256 Count-Min sketch as an [[Io.upsertDim]] store,
  *     one row per (r, b) cell. CMS is a LINEAR sketch: a batch's cell
  *     counts simply ADD, so the merge is the same algebraic sum/epoch-gate
  *     shape as the MV's `ct` measure and the maintained sketch is
  *     CELL-FOR-CELL equal to a batch recompute over all data so far
  *     (deterministic integers — spec-pinned; the shared derivation is
  *     [[Relational.cmsBucket]]). Replays and partial bucket commits
  *     recover per cell via `last_epoch`.
  *
  *  2. CANDIDATES — a CMS can estimate any key but cannot ENUMERATE the
  *     heavy ones, so a bounded candidate row rides with it (the classic
  *     CMS+heap construction, Cormode & Muthukrishnan 2005): per batch,
  *     the batch's top `batchCand` keys by batch count (a k-bounded
  *     `topKStr` partial agg, never a sort) union the stored candidates,
  *     every candidate is re-estimated against the JUST-COMMITTED cells,
  *     and the best `topN` by (estimate DESC, key ASC) land as ONE ROW —
  *     the [[Scd2Stream]] one-row trick: the candidate set update is
  *     atomic under the bucketed commit, and its own epoch gate makes the
  *     step idempotent. Because candidates are computed AFTER the cells
  *     commit, a replayed epoch re-estimates against exactly the
  *     post-merge cells the original attempt saw — candidate selection is
  *     crash-placement independent (spec-pinned).
  *
  * Honest recall caveat (inherent to batched candidate generation): a key
  * heavy in AGGREGATE but never in any single batch's top `batchCand` can
  * be missed — mitigate by sizing `batchCand` ≥ a few × topN (stored
  * candidates persist and their estimates only grow), or by generating
  * candidates with the q132 Misra–Gries aggregator, whose n/(k+1) theorem
  * is per-batch. The estimates themselves never undercount (CMS ≥ exact).
  *
  * Scale shape: the only corpus-proportional work is the per-batch cell
  * aggregate (map-side combinable, ≤ 1024 partial rows per mapper — the
  * q111 bound); candidate estimation joins a ≤ (topN + batchCand)-row
  * frame against the ≤ 1024-row cell frame, both broadcast-sized. */
object TopKStream {

  val Depth = 4

  /** Per-batch CMS cell counts of `delta` (one string column `key`). */
  def cellAgg(delta: DataFrame): DataFrame = {
    val rows = explode(array((0 until Depth).map(lit(_)): _*))
    delta.select(col("key"), rows.as("r"))
      .withColumn("b", Relational.cmsBucket(col("r"), col("key")))
      .groupBy("r", "b").agg(count(lit(1)).as("c"))
  }

  /** Merge one micro-batch into the cells + candidates stores. Idempotent
    * per (cell, epoch) / (candidate row, epoch). */
  def applyBatch(spark: SparkSession, delta: DataFrame, cellsPath: String,
                 candPath: String, epoch: Long, topN: Int = 10,
                 batchCand: Int = 32): Unit = {
    EpochStore.mergeAdditive(spark,
      cellAgg(delta).withColumn("cell", concat_ws("|", col("r"), col("b"))),
      cellsPath, "cell", epoch, Seq("c"))

    // ---- candidates: only after the cells committed ----
    val candFresh = !Io.dimStoreHasData(candPath) ||
      Io.readDim(spark, candPath).filter(col("last_epoch") >= epoch).isEmpty
    if (candFresh) {
      val batchTop = delta.groupBy("key").agg(count(lit(1)).as("bct"))
        .agg(graft.functions.Aggregators.topKStr(
          batchCand, col("bct").cast("double"), col("key"), col("bct")).as("top"))
        .select(explode(col("top")).as("s")).select(col("s.id").as("key"))
      val stored =
        if (!Io.dimStoreHasData(candPath)) batchTop.limit(0)
        else Io.readDim(spark, candPath)
          .select(explode(col("cand")).as("s")).select(col("s.key").as("key"))
      val cand = batchTop.unionByName(stored).distinct()
      // estimate every candidate against the committed cells: min over the
      // Depth rows of its cell counts (absent cell = the key was never
      // counted there = 0 — only possible for a stored candidate whose
      // cells predate a wipe; coalesce keeps the min honest)
      val cells = Io.readDim(spark, cellsPath).select(col("r"), col("b"), col("c"))
      val est = cand
        .select(col("key"), explode(array((0 until Depth).map(lit(_)): _*)).as("r"))
        .withColumn("b", Relational.cmsBucket(col("r"), col("key")))
        .join(broadcast(cells), Seq("r", "b"), "left")
        .groupBy("key").agg(min(coalesce(col("c"), lit(0L))).as("est"))
      val topRow = est
        .agg(graft.functions.Aggregators.topKStr(
          topN, col("est").cast("double"), col("key"), col("est")).as("scored"))
        .select(lit("top").as("k"),
          expr("transform(scored, s -> struct(s.id as key, s.p as est))").as("cand"),
          lit(epoch).as("last_epoch"))
      Io.upsertDim(spark, topRow, candPath, "k", "last_epoch")
    }
  }

  /** Current top-k: (rank, key, est) from the single maintained row. */
  def readTopK(spark: SparkSession, candPath: String): DataFrame =
    Io.readDim(spark, candPath)
      .select(posexplode(col("cand")).as(Seq("pos", "s")))
      .select((col("pos") + 1).cast("int").as("rank"),
        col("s.key").as("key"), col("s.est").as("est"))

  /** Join-size estimate BETWEEN two maintained cell stores — the streaming
    * form of [[Relational.joinSizeEstimate]] (q146): because each store's
    * cells equal a batch CMS of everything its stream absorbed (the linear-
    * sketch equality this spec pins), the cell-wise inner product (min over
    * depth rows) estimates |A ⋈_key B| CONTINUOUSLY from two ≤ 1024-row
    * frames — the shuffle-size forecast for a planned stream-stream join,
    * at read cost independent of absorbed volume. Integer-exact and
    * never under the true size. */
  def estimateJoinSize(spark: SparkSession, cellsPathA: String,
                       cellsPathB: String): DataFrame =
    Io.readDim(spark, cellsPathA).select(col("r"), col("b"), col("c").as("ca"))
      .join(Io.readDim(spark, cellsPathB).select(col("r"), col("b"), col("c").as("cb")),
        Seq("r", "b"))
      .groupBy("r").agg(sum(col("ca") * col("cb")).as("ip"))
      .agg(min(col("ip")).as("est_size"))

  /** Current estimate for ANY key (not just candidates) from the cells. */
  def estimate(spark: SparkSession, cellsPath: String, keys: DataFrame): DataFrame = {
    val cells = Io.readDim(spark, cellsPath).select(col("r"), col("b"), col("c"))
    keys.select(col("key"),
      explode(array((0 until Depth).map(lit(_)): _*)).as("r"))
      .withColumn("b", Relational.cmsBucket(col("r"), col("key")))
      .join(broadcast(cells), Seq("r", "b"), "left")
      .groupBy("key").agg(min(coalesce(col("c"), lit(0L))).as("est"))
  }
}
