package graft.streaming

import graft.io.Io
import graft.functions.TextFns
import graft.operators.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STREAMING MIXTURE-DECISION MAINTENANCE — the streaming twin of
  * q181/q182 (VERDICT r12 #5): the mixture report's per-source inputs are
  * sufficient statistics, so the decisions are incrementally maintainable
  * like the other measure classes instead of re-scanning the corpus.
  *
  * Two stores, two store classes:
  *  - **avail** (q182's token supply) is SCALAR-ADDITIVE: one row per
  *    source under the [[EpochStore]] per-key epoch gate (same discipline as
  *    the count/sum maintainers — a replayed epoch is a no-op).
  *  - **shingle cells** (q181's coverage sets AND q182's weight) are
  *    FIRST-SEEN (source, 3-shingle) rows — the LM-count-table store
  *    class: vocabulary × source bounded, and maintenance is set union,
  *    which is idempotent BY CONSTRUCTION (re-upserting a cell rewrites
  *    the same row), so this store needs no epoch gate for correctness.
  *    `weight` falls out as a per-source cell count; the greedy
  *    max-coverage walk reads the cells themselves.
  *
  * Both read paths then REPLAY through the exact batch walks
  * ([[TextOps.sourceSelectFrom]] / [[TextOps.allocateFromStats]]), so
  * maintained ≡ batch-over-absorbed is definitional once the statistics
  * match — MixtureStreamSpec pins the statistics, the q181 picks, and the
  * q182 allocation after a 3-batch ingest, plus epoch-replay no-ops.
  *
  * The production reading: "which sources do we keep crawling, and how do
  * we split the next training run's token budget" re-decided continuously
  * as ingest absorbs documents, from two control-plane stores — no corpus
  * re-scan at decision time.
  *
  * Rounds 13-14 grew this object into the home of the whole
  * DECISION-REPORT maintenance family: the same two store classes
  * (additive cells under [[EpochStore.mergeAdditive]]'s per-key epoch gate;
  * first-seen/set-idempotent rows) now also feed q194's KS matrix
  * (score histogram), q195's ablation (scalar stats + the shared shingle
  * cells), q191's Chao1 (term count table) and q192's packing capacity
  * (length histogram) — seven reports, and every read path replays the
  * batch operator's own factored walk so maintained ≡ batch stays
  * definitional per store. */
object MixtureStream {

  /** Merge one micro-batch of (source, text) document rows into the two
    * stores. Idempotent per (source, epoch) on avail; unconditionally
    * idempotent on the shingle cells. */
  def applyBatch(spark: SparkSession, delta: DataFrame, availStore: String,
                 shingleStore: String, epoch: Long): Unit = {
    EpochStore.mergeAdditive(spark,
      delta.groupBy("source")
        .agg(sum(size(TextFns.tokensCol(col("text"))).cast("long")).as("avail")),
      availStore, "source", epoch, Seq("avail"))

    val cells = delta
      .select(col("source"),
        explode(TextFns.distinctShinglesUdf(3)(col("text"))).as("term"))
      .distinct()
      // composite (source, term) key in one pk column; U+0001 cannot occur
      // in either side (sources are identifiers, shingles are tokenized text)
      .select(concat_ws("\u0001", col("source"), col("term")).as("k"),
        col("source"), col("term"), lit(epoch).as("last_epoch"))
    Io.upsertDim(spark, cells, shingleStore, "k", "last_epoch")
  }

  /** Current q182 allocation over everything absorbed — the batch
    * water-filling walk fed from the maintained statistics. */
  def readBudget(spark: SparkSession, availStore: String,
                 shingleStore: String): DataFrame =
    TextOps.allocateFromStats(
      Io.readDim(spark, availStore).select("source", "avail")
        .join(Io.readDim(spark, shingleStore)
          .groupBy("source").agg(count(lit(1)).as("weight")),
          Seq("source")))

  /** Current q181 greedy source selection over everything absorbed — the
    * batch max-coverage walk fed the maintained first-seen cells. */
  def readSelect(spark: SparkSession, shingleStore: String,
                 k: Int = 4): DataFrame =
    TextOps.sourceSelectFrom(spark,
      Io.readDim(spark, shingleStore).select("source", "term"), k)

  /** Current q187 cross-source overlap matrix over everything absorbed —
    * the same cells feed a THIRD report: the maintained (source, shingle)
    * set IS sourceOverlap's input frame. */
  def readOverlap(spark: SparkSession, shingleStore: String): DataFrame =
    graft.operators.Dedup.sourceOverlapFrom(
      Io.readDim(spark, shingleStore)
        .select(col("source"), col("term").as("sh")))

  /** q195 scalar stats store (VERDICT r13 #5): one row per source
    * (n_docs, tokens, s = Σscore) — scalar-additive under the same per-key
    * epoch gate as avail (a replayed epoch is a no-op per source row). */
  def applyAblationBatch(spark: SparkSession, delta: DataFrame,
                         statsStore: String, epoch: Long): Unit = {
    val toks = TextFns.tokensCol(col("text"))
    EpochStore.mergeAdditive(spark,
      delta
        .select(col("source"), size(toks).cast("long").as("__dt"),
          TextFns.classifierScoreUdf(toks).as("__ds"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("__dt")).as("tokens"),
          sum(col("__ds")).as("s")),
      statsStore, "source", epoch, Seq("n_docs", "tokens", "s"))
  }

  /** Current q195 ablation report over everything absorbed: the scalar
    * stats row per source plus the SAME first-seen shingle cells the
    * q181/q182/q187 reads share — unique vocabulary is a read-time rollup
    * of the cells (source-df = 1), exact because first-seen union absorbs
    * duplicates. */
  def readAblation(spark: SparkSession, statsStore: String,
                   shingleStore: String): DataFrame =
    TextOps.ablationFrom(
      Io.readDim(spark, statsStore).select("source", "n_docs", "tokens", "s"),
      Io.readDim(spark, shingleStore).select(col("source"), col("term").as("sh")))

  /** q194 histogram store (VERDICT r13 #5): (source, score) count cells,
    * scalar-additive, epoch-gated per cell. SCORE-level counts, not bucket
    * counts: the KS grid's (lo, hi) bounds drift as batches absorb, so
    * bucket membership of OLD mass changes — bucket counts are not
    * additive, score counts are, and the read path re-bins at read time
    * through the shared [[TextOps.ksMatrixFromHist]] walk. Store size is
    * the distinct (source, score) domain — the 64-weight integer
    * classifier concentrates scores heavily, and the store never exceeds
    * the absorbed doc count even degenerate. */
  def applyKsBatch(spark: SparkSession, delta: DataFrame,
                   histStore: String, epoch: Long): Unit =
    EpochStore.mergeAdditive(spark,
      delta
        .select(col("source"),
          TextFns.classifierScoreUdf(TextFns.tokensCol(col("text"))).as("score"))
        .groupBy("source", "score").agg(count(lit(1)).as("ct"))
        // composite (source, score) key; U+0001 cannot occur in a source id
        .withColumn("k", concat_ws("\u0001", col("source"), col("score"))),
      histStore, "k", epoch, Seq("ct"))

  /** Current q194 KS matrix over everything absorbed — the batch walk fed
    * the maintained score histogram; bounds and bins recomputed at read
    * time, so late mass that widens the range re-bins correctly. */
  def readKs(spark: SparkSession, histStore: String, bins: Int = 256): DataFrame =
    TextOps.ksMatrixFromHist(
      Io.readDim(spark, histStore).select("source", "score", "ct"), bins)

  /** q203 token-count cell store: additive (source, tok) unigram counts
    * under the shared per-key epoch gate — the DoReMi walk's sufficient
    * statistic. Same LM-count-table store class as q191's gram totals:
    * vocabulary × source bounded, scalar-additive, replay-idempotent per
    * cell. The vocab CAP deliberately does NOT live in the store (a
    * capped store could not re-rank as late mass moves the global top-K);
    * the cap is a read-time step of the shared walk, so maintained ≡
    * batch stays definitional. */
  def applyDoremiBatch(spark: SparkSession, delta: DataFrame,
                       tokStore: String, epoch: Long): Unit =
    EpochStore.mergeAdditive(spark,
      delta
        .select(col("source"), explode(TextFns.tokensCol(col("text"))).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("ct"))
        // composite (source, tok) key; U+0001 cannot occur in either side
        .withColumn("k", concat_ws("\u0001", col("source"), col("tok"))),
      tokStore, "k", epoch, Seq("ct"))

  /** Current q203 mixture weights over everything absorbed — the batch
    * MWU walk ([[TextOps.doremiFrom]]) fed the maintained counts: "what
    * should the next training run's domain mixture be" re-answered
    * continuously as ingest absorbs documents, no corpus re-scan. */
  def readDoremi(spark: SparkSession, tokStore: String,
                 vocabCap: Int = 4095, rounds: Int = 8): DataFrame =
    TextOps.doremiFrom(spark,
      Io.readDim(spark, tokStore).select("source", "tok", "ct"),
      vocabCap, rounds)

  /** q206 tagged-count cell store: additive (tag, gram) unigram + bigram
    * counts under the shared per-key epoch gate — the PMI ranking's
    * sufficient statistic (both counts AND their total N are additive, so
    * the whole collocation dictionary maintains incrementally). The
    * min-count floor and the top-K cut stay READ-time steps of the shared
    * walk: a stored cut could not admit a pair that crosses the floor as
    * late batches accumulate its count. */
  def applyPmiBatch(spark: SparkSession, delta: DataFrame,
                    pmiStore: String, epoch: Long): Unit =
    EpochStore.mergeAdditive(spark,
      delta
        .select(TextFns.tokensCol(col("text")).as("toks"))
        .select(explode(concat(
          transform(col("toks"), t => struct(lit("u").as("tag"), t.as("g"))),
          transform(TextFns.shinglesCol(col("toks"), 2),
            s => struct(lit("b").as("tag"), s.as("g"))))).as("x"))
        .select(col("x.tag").as("tag"), col("x.g").as("g"))
        .groupBy("tag", "g").agg(count(lit(1)).as("c"))
        // composite (tag, gram) key; U+0001 cannot occur in either side
        .withColumn("k", concat_ws("\u0001", col("tag"), col("g"))),
      pmiStore, "k", epoch, Seq("c"))

  /** Current q206 collocation dictionary over everything absorbed — the
    * batch PMI ranking ([[TextOps.pmiFrom]]) fed the maintained tagged
    * counts: the phrase dictionary re-ranked continuously as ingest
    * absorbs documents, no corpus re-scan. */
  def readPmi(spark: SparkSession, pmiStore: String, minCount: Long = 5L,
              topK: Int = 64): DataFrame =
    TextOps.pmiFrom(
      Io.readDim(spark, pmiStore).select("tag", "g", "c"), minCount, topK)

  /** q191 count-table store: (source, term) gram totals — the LM
    * count-table class under the shared additive epoch gate. Chao1's
    * n₁/n₂ (hapax/dis counts) CANNOT be stored directly (a term crossing
    * ct 1→2 moves between them — frequency-of-frequencies is not
    * additive); the TERM totals are, and n₁/n₂ roll up at read time in
    * the shared [[TextOps.chao1From]] walk. "Is this source worth
    * crawling deeper" re-answered continuously as ingest absorbs. */
  def applyChao1Batch(spark: SparkSession, delta: DataFrame,
                      termStore: String, epoch: Long): Unit =
    EpochStore.mergeAdditive(spark,
      delta
        .select(col("source"), explode(TextFns.gramCountsUdf(3)(col("text"))))
        .select(col("source"), col("key").as("term"),
          col("value").cast("long").as("tf"))
        .groupBy("source", "term").agg(sum(col("tf")).as("ct"))
        .withColumn("k", concat_ws("\u0001", col("source"), col("term"))),
      termStore, "k", epoch, Seq("ct"))

  /** Current q191 estimate over everything absorbed — the batch estimator
    * fed the maintained count table. */
  def readChao1(spark: SparkSession, termStore: String): DataFrame =
    TextOps.chao1From(
      Io.readDim(spark, termStore).select("source", "term", "ct"))

  /** Current q198 vocabulary-coverage curve over everything absorbed — the
    * q191 term store summed over sources IS q198's (term, ct) sufficient
    * statistic, so the vocab-size decision rides the SAME maintained cells
    * as Chao1: one store, two reports, no corpus re-scan. */
  def readVocabCoverage(spark: SparkSession, termStore: String,
                        sizes: Seq[Int] = TextOps.VocabSizes): DataFrame =
    TextOps.vocabCoverageFrom(
      Io.readDim(spark, termStore).select("term", "ct")
        .groupBy("term").agg(sum(col("ct")).as("ct")),
      sizes)

  /** q192 length-histogram store: (len, n) doc-count cells — additive
    * under the shared epoch gate (pk = the length value itself; the domain
    * is the distinct token-length set, bounded by the max doc length).
    * Every packing-capacity column is linear in per-length doc count, so
    * the table re-derives whole from the histogram at read time — "which
    * context length do we train at" re-answered continuously as ingest
    * absorbs, no corpus re-scan. */
  def applyPackingBatch(spark: SparkSession, delta: DataFrame,
                        lenStore: String, epoch: Long): Unit =
    EpochStore.mergeAdditive(spark,
      delta.select(size(TextFns.tokensCol(col("text"))).cast("long").as("len"))
        .groupBy("len").agg(count(lit(1)).as("n")),
      lenStore, "len", epoch, Seq("n"))

  /** Current q192 capacity table over everything absorbed. */
  def readPacking(spark: SparkSession, lenStore: String,
                  lengths: Seq[Int] = Seq(128, 512, 2048)): DataFrame =
    TextOps.packingFromLens(
      Io.readDim(spark, lenStore).select("len", "n"), lengths)

  /** q189 confusion store: one row per source of filter-agreement counts
    * (n11, n10, n01, n00) — both labels are doc-pure, so the four counters
    * are additive cells and κ is read-time arithmetic
    * ([[TextOps.kappaFrom]]). "Where do the quality filters disagree"
    * re-answered continuously. */
  def applyKappaBatch(spark: SparkSession, delta: DataFrame,
                      confStore: String, epoch: Long): Unit =
    EpochStore.mergeAdditive(spark, TextOps.kappaConf(delta), confStore, "source",
      epoch, Seq("n11", "n10", "n01", "n00"))

  /** Current q189 agreement report over everything absorbed. */
  def readKappa(spark: SparkSession, confStore: String): DataFrame =
    TextOps.kappaFrom(
      Io.readDim(spark, confStore).select("source", "n11", "n10", "n01", "n00"))

  /** q201 pass-count store: one row per source of (n, passes) — the
    * simplest member of the additive-cell discipline (two counters, both
    * doc-pure); the whole BH walk (z, rank, thresholds, step-up) is
    * read-time arithmetic over the K-row frame
    * ([[TextOps.bhFdrFrom]]). "Which sources deviate significantly on
    * this filter, FDR-controlled" re-answered continuously. */
  def applyBhBatch(spark: SparkSession, delta: DataFrame,
                   passStore: String, epoch: Long): Unit =
    EpochStore.mergeAdditive(spark, TextOps.bhCounts(delta), passStore, "source",
      epoch, Seq("n", "passes"))

  /** Current q201 FDR report over everything absorbed. */
  def readBhFdr(spark: SparkSession, passStore: String,
                alpha: Double = 0.05): DataFrame =
    TextOps.bhFdrFrom(
      Io.readDim(spark, passStore).select("source", "n", "passes"), alpha)

  /** Current q202 power/MDE table off the SAME pass-count store — one
    * store, two decision reports (the q191/q198 pattern). */
  def readPowerMde(spark: SparkSession, passStore: String,
                   alpha: Double = 0.05, power: Double = 0.8): DataFrame =
    TextOps.powerMdeFrom(
      Io.readDim(spark, passStore).select("source", "n", "passes"),
      alpha, power)

  /** q186 novelty stores: the slice assignment is a PURE md5 of doc_id
    * (TextOps.noveltySlice), so a doc's slice never moves as the corpus
    * grows — (source, slice) token sums are additive cells and the
    * (source, slice, shingle) presence rows are first-seen (set-idempotent,
    * the q181 store class, one slice dimension wider). Per-slice seen,
    * first-seen-new and the cumulatives all roll up at read time in
    * [[TextOps.noveltyFrom]], so "is this source's vocabulary saturating"
    * maintains exactly. */
  def applyNoveltyBatch(spark: SparkSession, delta: DataFrame,
                        tokStore: String, cellStore: String, epoch: Long,
                        slices: Int = 8): Unit = {
    val d = delta.withColumn("slice", TextOps.noveltySlice(slices))
    EpochStore.mergeAdditive(spark,
      d.groupBy("source", "slice")
        .agg(sum(size(TextFns.tokensCol(col("text"))).cast("long")).as("slice_tokens"))
        .withColumn("k", concat_ws("\u0001", col("source"), col("slice"))),
      tokStore, "k", epoch, Seq("slice_tokens"))
    val cells = d.select(col("source"), col("slice"),
        explode(TextFns.distinctShinglesUdf(3)(col("text"))).as("sh"))
      .distinct()
      .select(concat_ws("\u0001", col("source"), col("slice"), col("sh")).as("k"),
        col("source"), col("slice"), col("sh"), lit(epoch).as("last_epoch"))
    Io.upsertDim(spark, cells, cellStore, "k", "last_epoch")
  }

  /** Current q186 novelty curve over everything absorbed. */
  def readNovelty(spark: SparkSession, tokStore: String,
                  cellStore: String): DataFrame =
    TextOps.noveltyFrom(
      Io.readDim(spark, tokStore).select("source", "slice", "slice_tokens"),
      Io.readDim(spark, cellStore).select("source", "slice", "sh"))
}
