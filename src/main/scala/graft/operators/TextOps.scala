package graft.operators

import graft.Tables
import graft.functions.TextFns._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table: keyword extraction
  * (the reference's KeywordStatsApp tokenize→explode→agg shape, B1/A26),
  * language ID, quality scoring, and token counting — the text half of the
  * training-data pipeline operator set.
  */
object TextOps {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")

  /** Keyword stats (B1 + A26): per-doc token-frequency kernel → explode one
    * row per DISTINCT token per doc → single shuffle. The in-doc counting that
    * the previous two-shuffle version did with a (keyword, doc) groupBy now
    * happens inside the one-pass kernel (TextFns.tokenCounts) — a map-side
    * combine the planner could never derive from an explode. doc_ct avoids
    * count(distinct)'s Expand entirely (one row per doc per token by
    * construction). */
  def keywordTokens(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), explode(tokenCountsUdf(col("text"))).as(Seq("keyword", "ct_in_doc")))
      .groupBy("keyword")
      .agg(sum(col("ct_in_doc")).as("ct"), count(lit(1)).as("doc_ct"))

  /** Unpivot (B2/A27, the keywordProductC2R column-to-row UDTF) via `stack`. */
  def unpivotMetrics(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .selectExpr(
        "l_returnflag",
        """stack(3,
             'qty',   cast(l_quantity      as decimal(18,2)),
             'price', cast(l_extendedprice as decimal(18,2)),
             'disc',  cast(l_discount      as decimal(18,2))) as (metric, val)""")
      .filter(col("val") > 0)
      .groupBy("l_returnflag", "metric")
      .agg(expr("cast(sum(val) as double)").as("total"), count(lit(1)).as("ct"))

  /** n-gram-heuristic language ID vs the labeled lang column. Uses the
    * single-pass [[graft.functions.TextFns.langIdFast]] kernel (the composable
    * column version pays four interpreted marker-filter HOF passes plus a
    * full-text regexp_replace per doc — 2.5 s vs 0.2 s at sf0.1); kernel ≡
    * column version is spec-gated in TextOpsSpec. */
  def langId(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("predicted", langIdFastUdf(col("text")))
      .groupBy("lang", "predicted")
      .agg(count(lit(1)).as("ct"))

  /** Quality scoring: token counts, stopword ratio, length-based accept flag. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val scored = docs(spark, dir)
      .withColumn("toks", tokensCol(col("text")))
      .withColumn("token_ct", size(col("toks")))
      .withColumn("stop_ratio", stopwordRatioFromToks(col("toks")))
      .withColumn("good",
        col("token_ct").between(30, 400) && col("stop_ratio") <= lit(0.5))
    scored.groupBy("source")
      .agg(
        count(lit(1)).as("docs"),
        sum(col("token_ct")).as("total_tokens"),
        count(when(col("good"), 1)).as("good_ct"),
        expr("cast(sum(token_ct) as double) / count(*)").as("avg_tokens"))
  }

  /** BPE-ish token counting per language. */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("bpe_ct", bpeTokenCountCol(col("text")))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("docs"),
        sum(col("bpe_ct")).as("total_bpe_tokens"),
        expr("cast(sum(bpe_ct) as double) / count(*)").as("avg_bpe_tokens"))

  /** The full training-data cleaning composition — what the individual dedup/
    * quality operators exist FOR: quality-filter → exact-dedup (keep lowest
    * doc_id per fingerprint) → near-dup cluster keeper selection (MinHash LSH
    * + connected components). Each stage runs ON THE PREVIOUS STAGE'S
    * SURVIVORS — in particular, near-dup clustering runs on the quality+exact
    * survivors, so a cluster whose raw-corpus keeper was quality-rejected
    * still keeps its best remaining member (no silently vanishing clusters),
    * and the LSH/label-propagation work never touches already-removed docs. */
  def cleanCorpus(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .withColumn("token_ct", size(tokensCol(col("text"))))
    val qualityPass = d.filter(col("token_ct") >= 10)
    // materialize the quality+exact survivor set ONCE: the near-dup stage
    // references it from several plan branches (banding, hash verification,
    // final anti-join) and would otherwise recompute the fingerprint-window
    // shuffle per branch — at cluster scale this boundary is a persisted
    // intermediate table between pipeline stages.
    // exact keeper = the min-doc_id ROW per fingerprint via min_by(struct),
    // not row_number over a fingerprint window (the q69 de-skew lesson): a
    // boilerplate page duplicated millions of times at web scale shares ONE
    // fp, and a window pins every copy into a single sorted reducer that
    // AQE cannot split. min_by's buffer is one struct regardless of group
    // size, so the hot fp collapses map-side to one partial row per task —
    // one shuffle, no sort, no join-back, and exactly the row the old
    // rn=1-by-doc_id selection kept (doc_id is unique).
    val exactKeeper = qualityPass
      .withColumn("fp", md5(col("text").cast("binary")))
      .groupBy("fp")
      .agg(min_by(
        struct(col("doc_id"), col("text"), col("lang"), col("source"), col("token_ct")),
        col("doc_id")).as("r"))
      .select(col("r.doc_id"), col("r.text"), col("r.lang"), col("r.source"), col("r.token_ct"))
      .persist()
    val nearDupLosers = Dedup
      .clusters(Dedup.minhashLshFrom(exactKeeper.select(col("doc_id"), col("text"))))
      .filter(col("doc_id") =!= col("cluster_id")) // keeper = cluster min id
      .select(col("doc_id").as("loser_id"))
    exactKeeper
      .join(nearDupLosers, col("doc_id") === col("loser_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("token_ct"))
  }

  /** Deterministic content-hash sampling — the stable way to cut train/eval
    * splits or down-sample a 100 TB corpus: membership depends only on the
    * key's md5, so it is reproducible across engines, runs, and cluster
    * layouts (unlike Bernoulli `sample()`, whose RNG is partition-dependent).
    * Keep ≈ keepNum/65536 of rows by the first 4 hex digits of md5(doc_id). */
  def hashSample(spark: SparkSession, dir: String, keepNum: Int = 6554): DataFrame = {
    require(keepNum >= 0 && keepNum <= 0xFFFF,
      s"keepNum must be in [0, 65535] (fraction = keepNum/65536), got $keepNum")
    val threshold = f"$keepNum%04x"
    docs(spark, dir)
      .filter(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 4) < threshold)
      .groupBy("lang")
      .agg(count(lit(1)).as("sampled_docs"), sum(col("n_chars")).as("sampled_chars"))
  }

  /** Repetition scoring (the Gopher-style quality signal: repetitive docs are
    * low-value training data): per-document duplicate-2-gram fraction, rolled
    * up per language with a count of repetitive docs (unique/total < 0.6).
    * Sums are LONG counts with one double division at the edge, so the rollup
    * is partition-order deterministic (an avg of per-doc double ratios would
    * not be). */
  def repetitionScore(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      // single-pass (total, distinct) kernel — the HOF chain
      // (shinglesCol → array_distinct → size) is interpreted per token and
      // materializes every gram string; this is one scan per doc
      .withColumn("gs", gramStatsUdf(2)(col("text")))
      .withColumn("total", col("gs._1"))
      .withColumn("uniq", col("gs._2"))
      .filter(col("total") > 0)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("docs"),
        sum(col("total")).as("total_2grams"),
        sum(col("uniq")).as("uniq_2grams"),
        count(when(col("uniq").cast("double") / col("total") < 0.6, 1)).as("repetitive_ct"),
        (lit(1.0) - expr("cast(sum(uniq) as double)") / sum(col("total"))).as("dup_fraction"))

  /** Deterministic multi-way split assignment (train/test/val) — [[hashSample]]
    * generalized to the standard corpus-cut shape: membership is a pure
    * function of md5(doc_id), so the same doc lands in the same split across
    * engines, runs, and cluster layouts, and the splits are disjoint by
    * construction. ~10% val, ~10% test, rest train. */
  def splitAssign(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("h", substring(md5(col("doc_id").cast("string").cast("binary")), 1, 4))
      .withColumn("split",
        when(col("h") < "1999", "val")
          .when(col("h") < "3333", "test")
          .otherwise("train"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"))

  /** Benchmark-contamination detection: corpus documents sharing verbatim
    * 5-gram shingles with a benchmark set (stand-in here: doc_id < 20 — in a
    * real pipeline, the eval suites). The benchmark n-gram set is tiny and
    * BROADCAST, so the corpus side is one scan + explode with no shuffle of
    * text and no pair blowup — the shape that stays linear at 100 TB. */
  def contamination(spark: SparkSession, dir: String,
                    benchMaxId: Long = 20L, minOverlap: Long = 1L): DataFrame = {
    val grams = docs(spark, dir)
      .select(col("doc_id"),
        explode(distinctShinglesUdf(5)(col("text"))).as("g"))
    val bench = grams.filter(col("doc_id") < benchMaxId).select("g").distinct()
    grams.filter(col("doc_id") >= benchMaxId)
      .join(broadcast(bench), "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("contaminated_grams")) // grams are distinct per doc
      .filter(col("contaminated_grams") >= minOverlap)
  }

  /** Per-document top-3 distinguishing terms by tf/df score — the tf-idf-shaped
    * keyword extractor over a corpus. Ranking uses `tf/df` (exact integer
    * counts, ONE double division) rather than a log-idf so the score is
    * bit-comparable across engines; the ordering is identical to tf·idf for
    * any monotone idf.
    *
    * Scale shape: per-doc tf comes from the single-pass
    * [[graft.functions.TextFns.tokenCounts]] kernel (NO shuffle — the map is
    * built map-side per document); df is one vocabulary-sized shuffle; the
    * df join is BROADCAST (vocabulary ≪ corpus); the only corpus-sized
    * shuffle is the per-doc top-k window. */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    val tf = docs(spark, dir)
      .select(col("doc_id"), explode(tokenCountsUdf(col("text"))).as(Seq("term", "tf_i")))
      .select(col("doc_id"), col("term"), col("tf_i").cast("long").as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
      .orderBy((col("tf").cast("double") / col("df")).desc, col("term"))
    tf.join(broadcast(df), "term")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("rnk"))
  }

  /** Balanced (class-capped) corpus sampling: every language keeps at most K
    * docs where K = the minority language's count — the standard move to stop
    * a dominant language swamping a training mix. Selection within a language
    * is by md5(doc_id) rank, so membership is engine/run/layout-stable like
    * [[hashSample]], and sorted-by-hash = a uniform random draw that needs no
    * RNG state.
    *
    * Scale shape (round-7 window audit — the [[mixtureSample]] treatment):
    * ranking a language's docs with `row_number` over a lang window sorts
    * the WHOLE dominant language on one reducer to keep a minority-sized
    * prefix. The draw order is a hash rank, so keep only rows whose 32-bit
    * hash prefix falls under a per-lang fraction sized `safety`·K/n, rank
    * the sliver exactly, and verify sufficiency per lang (survivors ≥ K
    * unless the whole lang survived), doubling the fraction on undershoot.
    * The survivor set is an exact PREFIX of the (h, doc_id) order, so the
    * kept membership is identical to the full-window form — spec-gated
    * row-for-row (TextOpsSpec), including an under-sized `safety` that
    * forces the doubling loop. Cache lifecycle as in [[mixtureSample]]:
    * the persisted base backs the returned plan; callers in long-lived
    * sessions clear it after consuming the result. */
  def balancedSample(spark: SparkSession, dir: String, safety: Double = 4.0): DataFrame = {
    val base = docs(spark, dir)
      .withColumn("h", md5(col("doc_id").cast("string").cast("binary")))
      .withColumn("u",
        conv(substring(col("h"), 1, 8), 16, 10).cast("long") / lit(4294967296.0))
      .select(col("lang"), col("doc_id"), col("h"), col("u"), col("n_chars"))
      .persist()
    val sess = base.sparkSession
    import sess.implicits._
    val counts = base.groupBy("lang").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val k = counts.values.min
    def survivors(frac: Map[String, Double]): DataFrame =
      base.join(broadcast(frac.toSeq.toDF("lang", "frac")), "lang")
        .filter(col("u") < col("frac"))
    var frac = counts.map { case (lang, n) =>
      lang -> math.min(1.0, safety * k / math.max(n, 1L)) }
    var sufficient = false
    while (!sufficient) {
      val survCt = survivors(frac).groupBy("lang").agg(count(lit(1)).as("c"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val under = frac.keySet.filter(l =>
        frac(l) < 1.0 && survCt.getOrElse(l, 0L) < k)
      if (under.isEmpty) sufficient = true
      else frac = frac.map { case (l, f) =>
        l -> (if (under(l)) math.min(1.0, f * 2) else f)
      }
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("h"), col("doc_id"))
    survivors(frac)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .groupBy("lang")
      .agg(count(lit(1)).as("kept_docs"), sum(col("n_chars")).as("kept_chars"))
  }

  /** The full-window form [[balancedSample]] replaced — spec reference ONLY. */
  private[graft] def balancedSampleWindowed(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .withColumn("h", md5(col("doc_id").cast("string").cast("binary")))
    val k = d.groupBy("lang").agg(count(lit(1)).as("n"))
      .agg(min(col("n")).as("k"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("h"), col("doc_id"))
    d.withColumn("rnk", row_number().over(w))
      .crossJoin(broadcast(k))
      .filter(col("rnk") <= col("k"))
      .groupBy("lang")
      .agg(count(lit(1)).as("kept_docs"), sum(col("n_chars")).as("kept_chars"))
  }

  /** Inverted-index construction (term → posting list). On a real corpus the
    * df band drops hapaxes and stopword-frequency terms; the synthetic
    * fixture's vocabulary is ~31 terms, so the default band keeps all of it.
    * Postings are numerically sorted and truncated to the first 10 doc ids,
    * emitted as a joined STRING: a cross-engine-stable encoding (array cells
    * hash differently between engines' readers), and collect_list's
    * partition-order nondeterminism is neutralized by sort_array BEFORE the
    * cast/join. One explode + one term-keyed shuffle — the classic index
    * build, linear at any corpus size. */
  def invertedIndex(spark: SparkSession, dir: String,
                    minDf: Long = 1L, maxDf: Long = Long.MaxValue): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), explode(tokenCountsUdf(col("text"))).as(Seq("term", "tf")))
      .groupBy("term")
      .agg(count(lit(1)).as("df"),
        concat_ws(",",
          transform(slice(sort_array(collect_list(col("doc_id"))), 1, 10),
            x => x.cast("string"))).as("postings"))
      .filter(col("df").between(minDf, maxDf))

  /** Per-language vocabulary induction: the top-5 most frequent tokens per
    * language by total occurrence count — the first step of any
    * language-specific tokenizer/BPE training sweep. Token counting reuses
    * the map-side [[graft.functions.TextFns.tokenCounts]] kernel, so the only
    * corpus-sized shuffle is the (lang, term) aggregate.
    *
    * Top-k = the k-bounded [[graft.functions.Aggregators.topKStr]] partial
    * agg, not a per-lang window (round-7 window audit): the window input
    * here is the aggregated VOCABULARY, which at web scale is still ~10⁸
    * types for a dominant language — all sorted on one reducer under
    * `Window.partitionBy(lang)`. The aggregator shuffles at most 5 rows per
    * lang per mapper instead, with the same (ct DESC, term ASC) order (ct
    * is exact in the double far beyond any real count). Row-for-row
    * equality with the window form is spec-gated (TextOpsSpec). */
  def vocabTopTerms(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("lang"), explode(tokenCountsUdf(col("text"))).as(Seq("term", "tf_i")))
      .groupBy("lang", "term")
      .agg(sum(col("tf_i").cast("long")).as("ct"))
      .groupBy("lang")
      .agg(graft.functions.Aggregators.topKStr(
        5, col("ct").cast("double"), col("term"), col("ct")).as("top"))
      .select(col("lang"), posexplode(col("top")))
      .select(col("lang"), col("col.id").as("term"), col("col.p").as("ct"),
        (col("pos") + 1).cast("int").as("rnk"))

  /** The windowed form [[vocabTopTerms]] replaced — spec reference ONLY. */
  private[graft] def vocabTopTermsWindowed(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("ct").desc, col("term"))
    docs(spark, dir)
      .select(col("lang"), explode(tokenCountsUdf(col("text"))).as(Seq("term", "tf_i")))
      .groupBy("lang", "term")
      .agg(sum(col("tf_i").cast("long")).as("ct"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("lang"), col("term"), col("ct"), col("rnk"))
  }

  /** BPE tokenizer TRAINING (Sennrich et al. 2016, "Neural Machine
    * Translation of Rare Words with Subword Units") — the step after
    * [[vocabTopTerms]]'s induction sweep: learn the first `rounds` merge
    * rules from the corpus. Standard word-frequency formulation: the corpus
    * collapses ONCE into a (word, count) table (the only corpus-sized scan),
    * each word becomes its character sequence, and each round (a) counts
    * adjacent symbol pairs weighted by word count, (b) takes the argmax
    * with a deterministic (count DESC, pair ASC) tiebreak — a bounded
    * 1-row driver action, the quantizer-training convention — and (c)
    * re-segments every word by greedy LEFT-TO-RIGHT non-overlapping
    * replacement of that pair (an `aggregate` HOF whose accumulator folds
    * the pair as it scans: "aaaa" + (a,a) → [aa, aa], never [a, aa, a]).
    * Re-segmentation rounds are map-only passes over the VOCABULARY table
    * (≤ millions of rows at web scale, not the corpus), so the loop costs
    * `rounds` tiny jobs after one corpus scan. Output: the learned merge
    * table (round, lhs, rhs, pair_ct) — the artifact a tokenizer ships.
    * The oracle (q96) re-derives every round in DuckDB with a
    * window-parity greedy (merge at even offsets of each maximal match
    * run), which equals left-to-right folding; HandcraftedSpec cases pin
    * the overlap semantics ("aaaa", "abab") on both constructions. */
  def bpeMerges(spark: SparkSession, dir: String, rounds: Int = 3): DataFrame =
    bpeMergesFrom(docs(spark, dir), rounds)

  /** Frame form of [[bpeMerges]]: `d` needs a text column. */
  def bpeMergesFrom(d: DataFrame, rounds: Int = 3): DataFrame = {
    val sess = d.sparkSession
    import sess.implicits._
    val (merges, base, _) = bpeTrain(d, rounds)
    base.unpersist() // result is driver-local; the vocab cache can go
    merges.map { case (r, a, b, pc, _) => (r, a, b, pc) }
      .toDF("round", "lhs", "rhs", "pair_ct")
      .withColumn("round", col("round").cast("int"))
  }

  /** BPE ENCODING — the inference half of [[bpeMerges]]: apply the learned
    * merge rules to the corpus and report the resulting subword-length
    * distribution per word-type and per occurrence (the compression curve
    * tokenizer evaluations plot). The training loop already carries every
    * word's final segmentation, so encoding is free after training; at
    * serving scale the merges table broadcasts and the same fold runs as a
    * map over raw text. Oracle (q97) reuses q96's generated CTE chain —
    * its final segmentation table IS this result's input. */
  def bpeEncode(spark: SparkSession, dir: String, rounds: Int = 3): DataFrame =
    bpeEncodeFrom(docs(spark, dir), rounds)

  def bpeEncodeFrom(d: DataFrame, rounds: Int = 3): DataFrame = {
    // base stays persisted: the returned plan reads the final segmentation,
    // which chains from it (cache lifecycle as in mixtureSample)
    val (_, _, seg) = bpeTrain(d, rounds)
    seg
      .groupBy(size(col("syms")).as("n_subwords"))
      .agg(count(lit(1)).as("words"), sum(col("ct")).cast("long").as("occurrences"))
  }

  /** Shared subword-training loop: one corpus scan → persisted
    * (word, syms, ct) vocabulary; each round = vocab-sized weighted pair
    * count + bounded 1-row argmax collect + map-only greedy
    * re-segmentation. `likelihood = false` takes the BPE argmax (raw pair
    * frequency); `likelihood = true` takes the WordPiece argmax — the pair
    * whose merge most increases corpus likelihood under a unigram model,
    * score = pc / (ct(a)·ct(b)), compared in exact fixed point:
    * score_q = pc·10¹⁵ DIV (ct(a)·ct(b)) over DECIMAL(38,0) intermediates
    * (score ≤ 1/max(ct) ≤ 1 so the quotient fits a long; two rationals
    * within 10⁻¹⁵ quantize equal and fall to the lexicographic tiebreak —
    * deterministically, and identically in the DuckDB oracle's HUGEINT
    * replay). Returns (merge rules incl. score_q, persisted base vocab,
    * final segmentation frame). */
  private def bpeTrain(d: DataFrame, rounds: Int, likelihood: Boolean = false)
  : (Seq[(Int, String, String, Long, Long)], DataFrame, DataFrame) = {
    val words = d
      .select(explode(tokenCountsUdf(col("text"))).as(Seq("word", "ct_in_doc")))
      .groupBy("word").agg(sum(col("ct_in_doc")).cast("long").as("ct"))
      .withColumn("syms", expr("filter(split(word, ''), x -> x <> '')"))
      .select(col("word"), col("syms"), col("ct"))
      .persist()
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long, Long)]()
    var cur = words
    var r = 1
    while (r <= rounds) {
      val pairs = cur
        .select(explode(expr(
          "zip_with(slice(syms, 1, size(syms) - 1), slice(syms, 2, size(syms) - 1)," +
            " (a, b) -> named_struct('a', a, 'b', b))")).as("p"), col("ct"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("ct")).as("pc"))
      val top = (if (!likelihood) {
        pairs.withColumn("score_q", col("pc"))
      } else {
        // per-symbol occurrence counts over the CURRENT segmentation —
        // the unigram denominators of the likelihood gain
        val cs = cur
          .select(explode(col("syms")).as("sym"), col("ct"))
          .groupBy("sym").agg(sum(col("ct")).as("c"))
        pairs
          .join(cs.select(col("sym").as("a"), col("c").as("ca")), Seq("a"))
          .join(cs.select(col("sym").as("b"), col("c").as("cb")), Seq("b"))
          .withColumn("score_q", expr(
            "CAST((CAST(pc AS DECIMAL(38,0)) * 1000000000000000) DIV " +
              "(CAST(ca AS DECIMAL(38,0)) * CAST(cb AS DECIMAL(38,0))) AS BIGINT)"))
      })
        .orderBy(col("score_q").desc, col("a"), col("b"))
        .limit(1).collect()
      require(top.nonEmpty, s"bpeTrain: corpus exhausted before round $r")
      val (a, b) = (top.head.getString(top.head.fieldIndex("a")),
        top.head.getString(top.head.fieldIndex("b")))
      merges += ((r, a, b, top.head.getLong(top.head.fieldIndex("pc")),
        top.head.getLong(top.head.fieldIndex("score_q"))))
      // symbols are [a-z0-9]+ substrings — safe as single-quoted literals
      cur = cur.withColumn("syms", expr(
        s"aggregate(syms, cast(array() as array<string>), (acc, x) -> " +
          s"case when size(acc) > 0 and element_at(acc, -1) = '$a' and x = '$b' " +
          s"then concat(slice(acc, 1, size(acc) - 1), array('$a$b')) " +
          s"else concat(acc, array(x)) end)"))
      r += 1
    }
    (merges.toSeq, words, cur)
  }

  /** Tokenizer FERTILITY evaluation (tokens-per-word by corpus slice — the
    * standard multilingual tokenizer-quality metric, e.g. Rust et al. 2021):
    * train BPE via [[bpeMerges]]'s loop, apply the final segmentation to
    * every word occurrence, and report per SOURCE the word/subword/char
    * occurrence totals plus fertility in exact micro units
    * (subwords·10⁶ DIV words — integer on both engines, so the q99 oracle
    * hash-matches). Scale shape: the per-source word table shuffles once on
    * (source, word) with map-side combine; the segmentation is vocab-sized
    * and BROADCAST to it — the corpus is never joined row-to-row. */
  def tokenizerFertility(spark: SparkSession, dir: String, rounds: Int = 3): DataFrame =
    tokenizerFertilityFrom(docs(spark, dir), rounds)

  /** Frame form of [[tokenizerFertility]]: `d` needs text + source columns. */
  def tokenizerFertilityFrom(d: DataFrame, rounds: Int = 3): DataFrame = {
    // base stays persisted while the returned plan runs (seg chains from it)
    val (_, _, seg) = bpeTrain(d, rounds)
    d.select(col("source"), explode(tokenCountsUdf(col("text"))).as(Seq("word", "c")))
      .groupBy("source", "word").agg(sum(col("c")).cast("long").as("ct_src"))
      .join(broadcast(seg.select(col("word"), size(col("syms")).as("n_sub"))), Seq("word"))
      .groupBy("source")
      .agg(
        sum(col("ct_src")).cast("long").as("word_occurrences"),
        sum(col("ct_src") * col("n_sub")).cast("long").as("subword_occurrences"),
        sum(col("ct_src") * length(col("word"))).cast("long").as("char_count"))
      .withColumn("fertility_micro",
        expr("CAST((subword_occurrences * 1000000) DIV word_occurrences AS BIGINT)"))
  }

  /** WordPiece vocabulary induction (Schuster & Nakajima 2012; the BERT/GNMT
    * tokenizer family) — [[bpeMerges]]'s training loop with the LIKELIHOOD
    * argmax: each round merges the pair maximizing pc/(ct(a)·ct(b)), i.e.
    * the merge with the largest corpus-likelihood gain under a unigram LM,
    * rather than BPE's raw pair frequency. Scores compare in exact fixed
    * point (see [[bpeTrain]]) so the learned rules are bit-reproducible and
    * cross-engine checkable; the q98 oracle replays every round in DuckDB
    * with HUGEINT arithmetic. Same cost shape as BPE: one corpus scan, then
    * vocab-sized jobs per round (the extra symbol-count aggregate is
    * vocab-sized too). */
  def wordPieceMerges(spark: SparkSession, dir: String, rounds: Int = 3): DataFrame =
    wordPieceMergesFrom(docs(spark, dir), rounds)

  /** Frame form of [[wordPieceMerges]]: `d` needs a text column. */
  def wordPieceMergesFrom(d: DataFrame, rounds: Int = 3): DataFrame = {
    val sess = d.sparkSession
    import sess.implicits._
    val (merges, base, _) = bpeTrain(d, rounds, likelihood = true)
    base.unpersist()
    merges.toDF("round", "lhs", "rhs", "pair_ct", "score_q")
      .withColumn("round", col("round").cast("int"))
  }

  /** TEMPERATURE-reweighted source sampling (the multilingual/LLM mixing
    * recipe, e.g. Conneau & Lample 2019 §3.1; α = 0.5): a fixed doc budget
    * `B` is split across sources proportionally to n_s^α — upweighting
    * small sources relative to their raw share — and each source keeps the
    * docs whose md5 rank falls under its quota fraction. Every arithmetic
    * step is chosen for cross-engine bit-exactness: n_s^0.5 via IEEE-754
    * `sqrt` (correctly rounded by spec, unlike `pow`) quantized to integer
    * 2²⁰ units so the normalizer is an order-free INTEGER sum; the keep
    * fraction B·s_q/(s_tot·n_s) is a double division of exactly-
    * representable integers; the threshold becomes a 13-hex-digit string
    * (52 bits — below double's 53-bit mantissa) compared against the md5
    * prefix, the q41 membership trick. A fraction ≥ 1 clamps to the
    * all-pass sentinel 'g…g' (> every hex digit). Scale shape: per-source
    * stats are a tiny agg; thresholds broadcast; the corpus pass is a
    * map-only filter — no window, no per-source sort, no hot key. */
  /** QUOTA SAMPLING / CORPUS BALANCING (q164) — cap every language
    * stratum at `cap` documents (the per-lang balanced-eval-slice cut; the
    * stratum key is a parameter of the shape, not the mechanism). The
    * selection is the cap SMALLEST 52-bit md5(doc_id) hashes per stratum:
    * deterministic (re-running the pipeline or adding unrelated strata
    * never changes a kept doc), uniform within the stratum, and — unlike
    * [[temperatureSample]]'s probabilistic threshold — EXACTLY cap docs
    * whenever the stratum has that many, which is the contract "balanced
    * eval slice / per-domain cap" needs. The released frame carries keys
    * only — doc attributes come back via the doc_id join like every other
    * selection operator here.
    *
    * Scale shape: bottom-k per stratum via the k-bounded [[Aggregators.topK]]
    * partial agg on negated hashes — each mapper forwards ≤ cap rows per
    * stratum it saw, no full shuffle, and NO sort over the corpus — vs
    * `row_number() OVER (PARTITION BY lang, source ORDER BY h)`, which
    * shuffles every row and sorts each stratum (the q160/q127 discipline).
    * Rank r is the array position (h asc, doc_id asc tiebreak), so the
    * released frame carries its own selection order for downstream
    * truncation to tighter caps WITHOUT re-ranking. */
  def quotaSample(spark: SparkSession, dir: String, cap: Int = 64): DataFrame = {
    val h = docs(spark, dir).select(col("lang"), col("doc_id"),
      conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10)
        .cast("long").as("h"))
    h.groupBy("lang")
      .agg(count(lit(1)).as("stratum_docs"),
        graft.functions.Aggregators.topK(cap,
          negate(col("h")).cast("double"), col("doc_id"), col("h")).as("top"))
      .select(col("lang"), col("stratum_docs"), posexplode(col("top")))
      .select(col("lang"), col("stratum_docs"),
        (col("pos") + 1).cast("int").as("r"),
        col("col.id").as("doc_id"), col("col.p").as("h"))
  }

  def temperatureSample(spark: SparkSession, dir: String, budget: Long = 1000): DataFrame =
    temperatureSampleFrom(docs(spark, dir), budget)

  /** Frame form of [[temperatureSample]]: `d` needs doc_id, source, n_chars. */
  def temperatureSampleFrom(d: DataFrame, budget: Long): DataFrame = {
    val stats = d.groupBy("source").agg(count(lit(1)).cast("long").as("n_docs"))
      .withColumn("s_q", floor(sqrt(col("n_docs")) * lit(1048576L)).cast("long"))
    val tot = stats.agg(sum(col("s_q")).cast("long").as("s_tot"))
    val thr = stats.crossJoin(broadcast(tot))
      .withColumn("t_raw", expr(
        s"CAST(floor(((CAST($budget AS BIGINT) * s_q) / (s_tot * n_docs)) * 4503599627370496) AS BIGINT)"))
      .withColumn("thr_hex", when(col("t_raw") >= lit(4503599627370496L), lit("ggggggggggggg"))
        .otherwise(format_string("%013x", col("t_raw"))))
      .select(col("source"), col("n_docs"), col("thr_hex"))
    d.join(broadcast(thr), Seq("source"))
      .filter(substring(md5(col("doc_id").cast("string")), 1, 13) < col("thr_hex"))
      .groupBy("source")
      .agg(
        max(col("n_docs")).as("n_docs"),
        count(lit(1)).cast("long").as("kept_docs"),
        sum(col("n_chars")).cast("long").as("kept_chars"))
  }

  /** DSIR-style importance SELECTION (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every doc by how
    * much more likely its tokens are under a TARGET domain's hashed-unigram
    * model than under the raw-corpus model, and select docs that look more
    * target-like than average. Tokens hash into 256 md5 buckets (the
    * paper's hashed n-gram features); each bucket's add-one-smoothed
    * probability ratio is quantized to integer 2²⁰ units — one DECIMAL(38)
    * division per BUCKET, not per token — so the per-doc score is an
    * order-free INTEGER sum Σ tf·q(b), and the selection test
    * score_sum > 2²⁰·n_tokens (avg ratio > 1) never touches a float: the
    * q101 oracle replays it exactly in HUGEINT. The paper resamples from
    * the importance weights; the deterministic selection here is the
    * exact-oracle-able analog (the weights ARE the resampling input).
    * Scale shape: bucket stats = one corpus-scan agg to 256 rows (target
    * counts folded in as a conditional sum, no second scan); the ratio
    * table broadcasts; per-doc scoring is one shuffle on doc_id with
    * map-side combine. */
  def dsirSelect(spark: SparkSession, dir: String, targetSource: String = "src0"): DataFrame =
    dsirSelectFrom(docs(spark, dir), targetSource)

  /** Frame form of [[dsirSelect]]: `d` needs doc_id, source, text. */
  def dsirSelectFrom(d: DataFrame, targetSource: String): DataFrame = {
    val toks = d
      .select(col("doc_id"), col("source"),
        explode(tokenCountsUdf(col("text"))).as(Seq("word", "tf")))
      .withColumn("bk", substring(md5(col("word")), 1, 2))
    val ratios = dsirRatioFrame(toks, targetSource)
    val scored = toks
      .join(broadcast(ratios), Seq("bk"))
      .groupBy("doc_id")
      .agg(sum(col("tf") * col("q")).cast("long").as("score_sum"),
        sum(col("tf")).cast("long").as("n_tokens"))
    // token-less docs score 0 and are never selected — but they count
    d.select(col("doc_id"), col("source"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("source"),
        coalesce(col("score_sum"), lit(0L)).as("ss"),
        coalesce(col("n_tokens"), lit(0L)).as("nt"))
      .groupBy("source")
      .agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("ss") > lit(1048576L) * col("nt"), 1L).otherwise(0L))
          .cast("long").as("selected_docs"),
        sum(when(col("ss") > lit(1048576L) * col("nt"), col("nt")).otherwise(0L))
          .cast("long").as("selected_tokens"),
        // exact integer importance mass per source — nonzero signal even on
        // a corpus uniform enough that nothing clears the strict gate
        sum(col("ss")).cast("long").as("sum_score"),
        sum(col("nt")).cast("long").as("sum_tokens"))
  }

  /** The 256-bucket smoothed-ratio table shared by [[dsirSelectFrom]] and
    * [[dsirRatios]]: one pass over the exploded token stream, target counts
    * folded in as a conditional sum. */
  private def dsirRatioFrame(toks: DataFrame, targetSource: String): DataFrame = {
    val buckets = toks.groupBy("bk").agg(
      sum(col("tf")).cast("long").as("ct_raw"),
      sum(when(col("source") === targetSource, col("tf")).otherwise(0L))
        .cast("long").as("ct_tgt"))
    val tots = buckets.agg(
      sum(col("ct_raw")).cast("long").as("n_raw"),
      sum(col("ct_tgt")).cast("long").as("n_tgt"))
    buckets.crossJoin(broadcast(tots))
      .withColumn("q", expr(
        "CAST((CAST(ct_tgt + 1 AS DECIMAL(38,0)) * (n_raw + 256) * 1048576) DIV " +
          "(CAST(ct_raw + 1 AS DECIMAL(38,0)) * (n_tgt + 256)) AS BIGINT)"))
      .select(col("bk"), col("q"))
  }

  /** TRAIN-batch / SERVE-stream half of DSIR: materialize the COMPLETE
    * bucket→ratio model (all 256 md5 buckets — a stream doc may hit a bucket
    * the training store never saw; those get the fully-smoothed default
    * ratio) for [[dsirGate]]. The quotients replay the DECIMAL DIV exactly
    * via BigInt (both truncate a positive quotient); the collect is 256 rows
    * — control-plane by construction. */
  def dsirRatios(d: DataFrame, targetSource: String): Map[String, Long] = {
    val counts = d
      .select(col("source"), explode(tokenCountsUdf(col("text"))).as(Seq("word", "tf")))
      .withColumn("bk", substring(md5(col("word")), 1, 2))
      .groupBy("bk").agg(
        sum(col("tf")).cast("long").as("ct_raw"),
        sum(when(col("source") === targetSource, col("tf")).otherwise(0L))
          .cast("long").as("ct_tgt"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val nRaw = counts.values.map(_._1).sum
    val nTgt = counts.values.map(_._2).sum
    def q(ctRaw: Long, ctTgt: Long): Long =
      ((BigInt(ctTgt + 1) * BigInt(nRaw + 256) * BigInt(1048576)) /
        (BigInt(ctRaw + 1) * BigInt(nTgt + 256))).toLong
    val hex = "0123456789abcdef"
    (for (a <- hex; b <- hex) yield {
      val bk = s"$a$b"
      val (cr, ct) = counts.getOrElse(bk, (0L, 0L))
      bk -> q(cr, ct)
    }).toMap
  }

  /** DSIR admission GATE — a PURE column stage (one tokenize kernel + an
    * integer fold over a 256-entry map literal, no shuffle, no state), so it
    * composes unchanged into a streaming pipeline exactly like the quality
    * gate ([[graft.apps.StreamingCuration]]): train the ratios on the batch
    * store with [[dsirRatios]], gate the live stream with them. Keeps docs
    * whose integer importance test passes — the SAME test [[dsirSelect]]
    * counts, which the parity spec asserts doc-for-doc. Token-less docs
    * fail the strict test and are dropped. */
  def dsirGate(stream: DataFrame, ratios: Map[String, Long]): DataFrame =
    stream
      .withColumn("_rm", typedLit(ratios))
      .withColumn("_tc", tokenCountsUdf(col("text")))
      .withColumn("_ss", expr(
        "aggregate(map_entries(_tc), 0L, (acc, e) -> acc + e.value * " +
          "element_at(_rm, substring(md5(e.key), 1, 2)))"))
      .withColumn("_nt", expr("aggregate(map_entries(_tc), 0L, (acc, e) -> acc + e.value)"))
      .filter(col("_ss") > lit(1048576L) * col("_nt"))
      .drop("_tc", "_ss", "_nt", "_rm")

  /** Unigram-LM tokenizer scoring (Kudo 2018, "Subword Regularization" — the
    * SentencePiece unigram model; completes the tokenizer family next to
    * [[bpeMerges]] and [[wordPieceMerges]]): score every word type by its
    * best (Viterbi) segmentation under a unigram piece model whose
    * vocabulary is ALL substrings of length 1–4 — the seed-vocab E-step of
    * the SentencePiece EM loop. Piece log-probs are integer-quantized,
    * L(x) = floor(2²⁰·ln x), score(p) = L(C(p)) − L(Tot), so the per-word
    * DP maximizes an INTEGER sum — tie-free output (the best score is
    * unique even when paths tie) and bit-reproducible in the q103 oracle's
    * recursive-CTE Viterbi. Scale shape: the piece vocabulary is bounded by
    * the ALPHABET, ≤ 36⁴+36³+36²+36 ≈ 1.7M entries no matter the corpus
    * size, so collecting it is a bounded control-plane action (the
    * quantizer-training convention) and the scored model broadcasts; the
    * corpus contributes one scan to the word table and the DP is a map-only
    * pass over word TYPES. Output: per word-length totals of the Viterbi
    * log-likelihood (ct-weighted integer sum). */
  def unigramLmScore(spark: SparkSession, dir: String): DataFrame =
    unigramLmScoreFrom(docs(spark, dir))

  /** Shared model build for [[unigramLmScoreFrom]] / [[unigramLmPruneFrom]]:
    * word-type table + broadcast integer piece log-prob map (2²⁰-quantized,
    * alphabet-bounded vocabulary — see [[unigramLmScore]] scaladoc). */
  private def unigramPieceModel(d: DataFrame)
      : (DataFrame, org.apache.spark.broadcast.Broadcast[Map[String, Long]]) = {
    val words = d.select(explode(tokenCountsUdf(col("text"))).as(Seq("word", "c")))
      .groupBy("word").agg(sum(col("c")).cast("long").as("ct"))
      .persist()
    val pieces = words
      // NB sequence(1, 0) in Spark is the DESCENDING [1, 0], not empty —
      // words shorter than l need the explicit empty branch
      .select(col("ct"), explode(expr(
        "flatten(transform(sequence(1, 4), l -> CASE WHEN length(word) >= l " +
          "THEN transform(sequence(1, length(word) - l + 1), i -> substring(word, i, l)) " +
          "ELSE cast(array() as array<string>) END))")).as("p"))
      .groupBy("p").agg(sum(col("ct")).cast("long").as("pc"))
    // alphabet-bounded vocabulary — safe to collect (see scaladoc)
    val pcMap = pieces.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val tot = pcMap.values.sum
    def ll(x: Long): Long = math.floor(math.log(x.toDouble) * 1048576.0).toLong
    val lTot = ll(tot)
    val bc = d.sparkSession.sparkContext.broadcast(
      pcMap.map { case (p, c) => p -> (ll(c) - lTot) })
    (words, bc)
  }

  /** Frame form of [[unigramLmScore]]: `d` needs a text column. */
  def unigramLmScoreFrom(d: DataFrame): DataFrame = {
    val (words, bc) = unigramPieceModel(d)
    val viterbi = udf((word: String) => {
      val n = word.length
      val dp = new Array[Long](n + 1)
      var i = 1
      while (i <= n) {
        var best = Long.MinValue
        var k = 1
        while (k <= 4 && k <= i) {
          // every ≤4-char substring of every word IS in the vocab
          val s = dp(i - k) + bc.value(word.substring(i - k, i))
          if (s > best) best = s
          k += 1
        }
        dp(i) = best
        i += 1
      }
      dp(n)
    })
    words.withColumn("best", viterbi(col("word")))
      .groupBy(length(col("word")).cast("int").as("word_len"))
      .agg(count(lit(1)).cast("long").as("words"),
        sum(col("ct")).cast("long").as("occurrences"),
        sum(col("ct") * col("best")).cast("long").as("total_score"))
  }

  /** SentencePiece M-STEP completing [[unigramLmScore]]'s E-step (Kudo 2018
    * §3.2's EM round, integer-exact): Viterbi-SEGMENT every word type under
    * the current piece model (deterministic tie-break: the SMALLEST last-piece
    * length among score-ties, so the path — not just the score — replays
    * bit-identically in the q114 oracle's recursive CTE), count ct-weighted
    * piece USAGE over the corpus, re-estimate each piece's 2²⁰-quantized
    * log-prob from its usage share, and emit the top-`keep` surviving pieces —
    * the prune step that iterated to a target vocab IS SentencePiece training.
    *
    * Scale shape = the [[unigramLmScore]] contract: model is alphabet-bounded
    * control-plane (broadcast), segmentation is a map-only pass over word
    * TYPES (not tokens), usage is ONE partial-agged groupBy on piece strings
    * (≤ |alphabet|⁴ keys), and the final top-`keep` ranking windows over a
    * `keep`-bounded frame, never the full vocab. */
  def unigramLmPrune(spark: SparkSession, dir: String, keep: Int = 48): DataFrame =
    unigramLmPruneFrom(docs(spark, dir), keep)

  /** Frame form of [[unigramLmPrune]]: `d` needs a text column. */
  def unigramLmPruneFrom(d: DataFrame, keep: Int = 48): DataFrame = {
    val (words, bc) = unigramPieceModel(d)
    val segment = udf((word: String) => {
      val n = word.length
      val dp = new Array[Long](n + 1)
      val bk = new Array[Int](n + 1)
      var i = 1
      while (i <= n) {
        var best = Long.MinValue
        var bestK = 1
        var k = 1
        while (k <= 4 && k <= i) {
          val s = dp(i - k) + bc.value(word.substring(i - k, i))
          // strict > keeps the FIRST (smallest) k on ties — the oracle's
          // list_position(cand, max) picks the same index
          if (s > best) { best = s; bestK = k }
          k += 1
        }
        dp(i) = best; bk(i) = bestK; i += 1
      }
      val out = scala.collection.mutable.ListBuffer.empty[String]
      var p = n
      while (p > 0) { out.prepend(word.substring(p - bk(p), p)); p -= bk(p) }
      out.toList
    })
    val usage = words
      .select(col("ct"), explode(segment(col("word"))).as("piece"))
      .groupBy("piece").agg(sum(col("ct")).cast("long").as("usage"))
      .persist()
    // total usage = one-row control-plane action (the quantizer convention)
    val tot = usage.agg(sum(col("usage"))).head().getLong(0)
    def ll(x: Long): Long = math.floor(math.log(x.toDouble) * 1048576.0).toLong
    val top = usage.orderBy(col("usage").desc, col("piece")).limit(keep)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("usage").desc, col("piece"))
    top
      .withColumn("new_score", udf((u: Long) => ll(u) - ll(tot)).apply(col("usage")))
      .withColumn("rnk", row_number().over(w))
      .select(col("piece"), col("usage"), col("new_score"), col("rnk"))
  }

  /** C4-style rule-based quality filter (Raffel et al. 2020 §2.2 heuristics,
    * re-expressed as per-doc boolean rules): minimum word count, sane mean
    * word length, stopword presence, low 2-gram repetition, and a blocklist
    * ("lorem ipsum", curly braces = leaked code/templating). One kernel pass
    * per doc ([[graft.functions.TextFns.c4Stats]]); every rule compares exact
    * integers (mean-word-length bounds become `3·words ≤ chars ≤ 10·words`,
    * the repetition cut `2·uniq ≥ total`), so the flags are bit-stable against
    * the SQL oracle with no floating-point thresholds. Embarrassingly parallel
    * — no shuffle at all; at 100 TB this is a pure map stage. */
  def c4RuleFilter(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("cs", c4StatsUdf(col("text")))
      .select(
        col("doc_id"),
        col("cs._1").as("word_ct"),
        (col("cs._1") >= 30).as("rule_min_words"),
        (col("cs._2") >= col("cs._1") * 3 && col("cs._2") <= col("cs._1") * 10)
          .as("rule_word_len"),
        col("cs._3").as("rule_stopword"),
        (col("cs._4") === 0 || col("cs._5") * 2 >= col("cs._4"))
          .as("rule_low_repetition"),
        (!col("cs._6")).as("rule_no_blocklist"))
      .withColumn("keep",
        col("rule_min_words") && col("rule_word_len") && col("rule_stopword") &&
          col("rule_low_repetition") && col("rule_no_blocklist"))

  /** Gopher/MassiveWeb rule-based quality filter (Rae et al. 2021, Appendix A
    * — the doc-level heuristics the Gopher corpus was cleaned with),
    * complementing [[c4RuleFilter]]'s C4 rules: word-count bounds, mean word
    * length 3–10, ≥80% words alphabetic, ≥`minStops` distinct required
    * stopwords, symbol-to-word ratio ≤ 1/10 ('#' and '...'), ≤90% bullet /
    * ≤30% ellipsis lines, and a most-repeated-2-gram character-mass cap (the
    * repetition cut, char-weighted where [[c4RuleFilter]]'s is type-weighted).
    * One kernel pass per doc ([[graft.functions.TextFns.gopherStats]]); every
    * rule compares exact integers by cross-multiplication (alpha ratio as
    * `5·alpha ≥ 4·words`, the gram cap as `5·mass ≤ chars`), so the flags are
    * bit-stable against the q104 oracle. Embarrassingly parallel — a pure map
    * stage, no shuffle at any scale.
    *
    * Defaults are the paper's. The q104 binding sets `requiredStops` to the
    * corpus-live pair {the, a} — the synthetic fixture's vocabulary contains
    * none of the paper's other stopwords, and a rule that can never pass
    * would leave `keep` constant instead of exercising both classes. */
  def gopherQuality(spark: SparkSession, dir: String,
      minWords: Long = 50L, maxWords: Long = 100000L,
      requiredStops: Seq[String] =
        Seq("the", "be", "to", "of", "and", "that", "have", "with"),
      minStops: Long = 2L): DataFrame =
    gopherQualityFrom(docs(spark, dir), minWords, maxWords, requiredStops, minStops)

  /** Frame form of [[gopherQuality]]: `d` needs (doc_id, text). */
  def gopherQualityFrom(d: DataFrame, minWords: Long = 50L,
      maxWords: Long = 100000L,
      requiredStops: Seq[String] =
        Seq("the", "be", "to", "of", "and", "that", "have", "with"),
      minStops: Long = 2L): DataFrame =
    d.withColumn("gs", gopherStatsUdf(requiredStops)(col("text")))
      .select(
        col("doc_id"),
        col("gs._1").as("word_ct"),
        col("gs._2").as("char_sum"),
        col("gs._9").as("top_gram_mass"),
        (col("gs._1") >= minWords && col("gs._1") <= maxWords).as("rule_word_count"),
        (col("gs._2") >= col("gs._1") * 3 && col("gs._2") <= col("gs._1") * 10)
          .as("rule_word_len"),
        (col("gs._3") * 5 >= col("gs._1") * 4).as("rule_alpha"),
        (col("gs._4") >= minStops).as("rule_stopwords"),
        (col("gs._5") * 10 <= col("gs._1")).as("rule_symbol"),
        (col("gs._7") * 10 <= col("gs._6") * 9 &&
          col("gs._8") * 10 <= col("gs._6") * 3).as("rule_lines"),
        (col("gs._9") * 5 <= col("gs._2")).as("rule_top_gram"))
      .withColumn("keep",
        col("rule_word_count") && col("rule_word_len") && col("rule_alpha") &&
          col("rule_stopwords") && col("rule_symbol") && col("rule_lines") &&
          col("rule_top_gram"))

  /** (rule suffix, paper threshold ×100) of the Gopher repetition table:
    * top-n-gram char fraction caps for n = 2..4, duplicate-n-gram char
    * fraction caps for n = 5..10 (Rae et al. 2021, Table A2). */
  val RepetitionThresholds: Seq[(String, Int)] = Seq(
    "top_2" -> 20, "top_3" -> 18, "top_4" -> 16, "dup_5" -> 15, "dup_6" -> 14,
    "dup_7" -> 13, "dup_8" -> 12, "dup_9" -> 11, "dup_10" -> 10)

  /** The full Gopher repetition-filter suite (Rae et al. 2021, Appendix A
    * Table A2), completing [[gopherQuality]]'s single top-2-gram cut: a doc
    * is flagged when the most-repeated n-gram's character mass exceeds the
    * per-n fraction cap (n = 2..4) or when characters inside duplicated
    * n-grams exceed it (n = 5..10) — the signature of looped boilerplate
    * that per-doc perplexity misses. One kernel pass per doc computes all
    * nine masses ([[graft.functions.TextFns.repetitionMasses]]); each flag
    * is `mass·100 ≤ chars·threshold`, exact integers. Pure map stage, no
    * shuffle at any scale. */
  def gopherRepetition(spark: SparkSession, dir: String): DataFrame =
    gopherRepetitionFrom(docs(spark, dir))

  /** Frame form of [[gopherRepetition]]: `d` needs (doc_id, text). */
  def gopherRepetitionFrom(d: DataFrame): DataFrame = {
    val massCols = RepetitionThresholds.zipWithIndex.map { case ((nm, _), i) =>
      element_at(col("rs"), i + 2).as(s"mass_$nm") }
    val flagCols = RepetitionThresholds.map { case (nm, t) =>
      (col(s"mass_$nm") * 100 <= col("char_sum") * t).as(s"rule_$nm") }
    d.withColumn("rs", repetitionMassesUdf(col("text")))
      .select(col("doc_id") +: element_at(col("rs"), 1).as("char_sum") +: massCols: _*)
      .select(col("*") +: flagCols: _*)
      .withColumn("keep",
        RepetitionThresholds.map(t => col(s"rule_${t._1}")).reduce(_ && _))
  }

  /** PII / identifier scrubbing: pattern-based detection plus redaction and
    * stable pseudonymization — the privacy pass of a training-data pipeline.
    * Patterns are conservative RE2-compatible regexes (email, IPv4, long digit
    * runs) so the SAME pattern strings run in the DuckDB oracle; redaction is
    * chained `regexp_replace`, and the pseudonym is a truncated md5 of the
    * original value (deterministic, join-stable across runs/engines — the
    * standard reversible-only-with-the-table pseudonymization). All column
    * operations are codegen'd built-ins: a pure map stage, no shuffle. */
  val PiiEmail = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PiiIpv4 = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  val PiiDigitRun = "[0-9]{6,}"

  /** Generic column scrubber: returns (n_email, n_ip, n_id, redacted). */
  def scrubCol(c: Column): (Column, Column, Column, Column) = {
    val nEmail = size(regexp_extract_all(c, lit(PiiEmail), lit(0)))
    val nIp = size(regexp_extract_all(c, lit(PiiIpv4), lit(0)))
    val nId = size(regexp_extract_all(c, lit(PiiDigitRun), lit(0)))
    val red = regexp_replace(
      regexp_replace(regexp_replace(c, PiiEmail, "[EMAIL]"), PiiIpv4, "[IP]"),
      PiiDigitRun, "[ID]")
    (nEmail, nIp, nId, red)
  }

  /** Sequence packing: assign each document its (sequence id, offset) under
    * in-order concatenation into fixed token-budget training sequences — the
    * step that turns a cleaned corpus into context-window-sized pretraining
    * rows. The assignment needs the GLOBAL running token count before each
    * doc; a plain `Window.orderBy(doc_id)` computes it on ONE partition (the
    * classic global-window scale killer), so this is the textbook distributed
    * prefix sum instead: range-partition by doc_id (global order preserved
    * across partition boundaries), one pass for per-partition totals (P
    * values to the driver — a bounded control-plane collect, like the IVF
    * sample), broadcast the exclusive prefix offsets, one streaming pass to
    * emit. Two linear scans, no shuffle beyond the range partitioning,
    * arbitrary corpus size. Spec-gated ≡ the window version; the SQL oracle
    * is the window version. */
  def sequencePacking(spark: SparkSession, dir: String,
                      budget: Long = 512L, partitions: Int = 8): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val counted = docs(spark, dir)
      .select(col("doc_id"), bpeTokenCountCol(col("text")).cast("long").as("n_tokens"))
      .repartitionByRange(partitions, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .persist() // both passes must see the identical partitioning
    val partTotals = counted.rdd
      .mapPartitionsWithIndex((pid, it) => Iterator((pid, it.map(_.getLong(1)).sum)))
      .collect().sortBy(_._1).map(_._2)
    val prefix = partTotals.scanLeft(0L)(_ + _) // exclusive offsets, P+1 entries
    val out = counted.rdd.mapPartitionsWithIndex { (pid, it) =>
      var run = prefix(pid)
      it.map { r =>
        val n = r.getLong(1)
        val before = run
        run += n
        Row(r.getLong(0), n, before / budget, before % budget,
          (before % budget) + n > budget)
      }
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("n_tokens", LongType),
      StructField("seq_id", LongType), StructField("seq_offset", LongType),
      StructField("spans_boundary", BooleanType)))
    // `counted` stays persisted until the harness's per-query cache release
    // (Bench/Verify clear caches between queries) — unpersisting here would
    // recompute the range partitioning under the second pass
    spark.createDataFrame(out, schema)
  }

  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val (ne, ni, nd, red) = scrubCol(lower(col("c_name")))
    Tables.load(spark, dir, "customer")
      .select(
        col("c_custkey"),
        ne.cast("long").as("n_email"),
        ni.cast("long").as("n_ip"),
        nd.cast("long").as("n_id"),
        red.as("redacted"),
        substring(md5(col("c_name")), 1, 12).as("pseudonym"))
  }

  /** Train/test-split LEAKAGE detection: near-dup clusters whose members land
    * in different splits — the eval-integrity check every LLM data pipeline
    * needs (a test doc with a near-duplicate in train silently inflates eval).
    * Composes two already-verified pieces: the [[splitAssign]] hash membership
    * and [[graft.operators.Dedup.nearDupClusters]]; one broadcast-sized join
    * (only clustered docs — a tiny fraction of the corpus) plus one
    * cluster-keyed aggregate. Oracle: the q32 recursive-CTE components with
    * the q48 split CASE, HAVING distinct-split > 1. */
  def splitLeakage(spark: SparkSession, dir: String,
                   labels: Option[DataFrame] = None): DataFrame = {
    val split = docs(spark, dir)
      .withColumn("h", substring(md5(col("doc_id").cast("string").cast("binary")), 1, 4))
      .select(col("doc_id"),
        when(col("h") < "1999", "val")
          .when(col("h") < "3333", "test")
          .otherwise("train").as("split"))
    labels.getOrElse(Dedup.nearDupClusters(spark, dir))
      .join(split, "doc_id")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("split")).as("n_splits"))
      .filter(col("n_splits") > 1)
  }

  /** Column profiling over the documents table — the pre-training data-QA
    * sweep (null rates, cardinalities, length ranges) as one unpivoted frame,
    * one row per profiled column. One aggregate PER column, not one aggregate
    * with three `count(distinct)`: multiple distinct aggregates in a single
    * Aggregate compile to an Expand that replicates every scanned row once per
    * distinct group (×4 here) — fine at sf0.1, a full extra corpus of shuffle
    * input at 100 TB. A per-column aggregate has exactly one distinct group,
    * which Spark plans through its no-Expand one-distinct path, and the scan
    * prunes to that single column, so the three jobs together read the same
    * bytes the fused scan did — without the ×4 row blowup. Exact counts are
    * kept (the hash oracle needs them); a cardinality-only sweep at 100 TB
    * would use approx_count_distinct instead (the A25 divergence pattern). */
  def profileDocuments(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    def one(c: String): DataFrame = d.select(col(c))
      .agg(
        count(lit(1)).as("n_rows"),
        count(col(c)).as("n_nonnull"),
        countDistinct(col(c)).as("n_distinct"),
        min(length(col(c))).as("min_len"),
        max(length(col(c))).as("max_len"))
      .select(lit(c).as("column_name"), col("n_rows"), col("n_nonnull"),
        col("n_distinct"), col("min_len"), col("max_len"))
    one("text").unionByName(one("lang")).unionByName(one("source"))
  }

  /** Multimodal column plumbing, SQL-visible part: treat the payload as opaque
    * bytes and aggregate size metadata. The binary decode/feature pipeline
    * (deterministic stub, batched mapPartitions) is graft.operators.Multimodal. */
  def multimodalMeta(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(octet_length(col("text"))).as("total_bytes"),
        max(octet_length(col("text"))).cast("long").as("max_bytes"))

  /** Span-level duplicated-content scoring — the n-gram approximation of
    * ExactSubstr dedup (Lee et al. 2021, "Deduplicating Training Data Makes
    * Language Models Better"): an n-token span position is duplicated when
    * the same span text appears in at least one OTHER document; a doc whose
    * duplicated-position fraction exceeds 0.5 is culled. Exact-dedup (q18)
    * misses partial copies and near-dup (q26) scores whole docs; this is the
    * sub-document middle ground. Shape: one explode (a row per span
    * position), one span-keyed aggregate for cross-doc counts, one join back,
    * one doc aggregate — the same two-shuffle profile the suffix-array
    * production variant has, with no quadratic pair step anywhere. */
  def spanDedup(spark: SparkSession, dir: String, n: Int = 10): DataFrame = {
    // one row per DISTINCT span per doc with its in-doc count (single-pass
    // kernel). Persisted: both the count aggregate and the join probe
    // consume this frame, and without the cache each side re-runs the
    // scan+explode (measured 1.32 s vs 0.9 s at sf0.1). Stays cached until
    // the harness's per-query release (Bench/Verify clear caches between
    // queries; a long-lived session embedding this operator owns the
    // release) — at cluster scale this boundary is the materialized span
    // table between pipeline stages.
    val spans = docs(spark, dir)
      .select(col("doc_id"), explode(gramCountsUdf(n)(col("text"))).as(Seq("g", "c")))
      .persist()
    // nd = docs containing the span, as a partial-aggregated groupBy rather
    // than count().over(Window.partitionBy("g")): a window pins EVERY
    // occurrence of a span key into one sorted task, so a boilerplate
    // 10-gram appearing in 10M docs at 100 TB funnels 10M rows through a
    // single reducer (exactly the skew q86 diagnoses). The aggregate
    // map-side-combines to one partial row per map task per hot key.
    //
    // Only the PREDICATE nd >= 2 matters downstream, so the join-back
    // carries just the duplicated-gram KEYS (left_semi) instead of every
    // span row meeting the full count table (round-10: the full join
    // re-shuffled all span rows on g and sat 1.5× over its floor). n_spans
    // needs no join at all — it aggregates straight off the cached spans.
    // The dup-gram set is far smaller than the count table (singleton grams
    // — the long tail — drop out), so AQE broadcasts the semi-join build
    // side at this scale; at 100 TB it degrades to a shuffle semi-join AQE
    // can skew-split, with Spark's runtime bloom-filter join injection
    // (spark.sql.optimizer.runtime.bloomFilter) pruning the probe map-side
    // — the "semi-join bloom" form of ExactSubstr's survivor filter.
    // Equality with the round-5 window construction is spec-gated
    // (TextOpsSpec).
    val dupG = spans.groupBy("g").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select("g")
    val perDoc = spans.groupBy("doc_id").agg(sum(col("c")).as("n_spans"))
    val dupPerDoc = spans.join(dupG, Seq("g"), "left_semi")
      .groupBy("doc_id").agg(sum(col("c").cast("long")).as("dup_spans"))
    perDoc.join(dupPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"))
      .withColumn("dup_frac", col("dup_spans").cast("double") / col("n_spans"))
      .withColumn("cull", col("dup_frac") > 0.5)
  }

  /** Round-5 construction of [[spanDedup]], kept ONLY as the equality-spec
    * reference: identical output, but the span-key window sorts every
    * occurrence of a hot gram onto one reducer — do not use on real data. */
  private[graft] def spanDedupWindowed(spark: SparkSession, dir: String, n: Int = 10): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("g")
    docs(spark, dir)
      .select(col("doc_id"), explode(gramCountsUdf(n)(col("text"))).as(Seq("g", "c")))
      .withColumn("nd", count(lit(1)).over(w))
      .groupBy("doc_id")
      .agg(
        sum(col("c")).as("n_spans"),
        sum(when(col("nd") >= 2, col("c").cast("long")).otherwise(0L)).as("dup_spans"))
      .withColumn("dup_frac", col("dup_spans").cast("double") / col("n_spans"))
      .withColumn("cull", col("dup_frac") > 0.5)
  }

  /** Bigram-rarity fluency scoring — the oracle-able core of CCNet/KenLM-style
    * LM filtering: a bigram is "rare" when its corpus probability is below
    * 1/1000 (`1000·c(bg) < Σc` — scale-free and exact in integers, unlike a
    * log-prob sum whose float addition order no two engines share); a doc is
    * kept when its rare-bigram fraction is ≤ 0.25. The corpus plays the role
    * of the reference LM: train = one bigram-keyed count aggregate, score =
    * join + one doc aggregate, both map-side-combining shuffles. */
  def bigramFluency(spark: SparkSession, dir: String): DataFrame = {
    // (doc, bigram, in-doc count) via the single-pass kernel — one row per
    // DISTINCT bigram per doc. The corpus count table is vocabulary-bounded
    // (the bigram "LM" any CCNet-style filter trains), so it broadcasts; the
    // only corpus-sized shuffle is the final doc aggregate. At production
    // scale the count table would be materialized once, not recomputed per
    // branch as the single-query plan here does.
    val bi = docs(spark, dir)
      .select(col("doc_id"), explode(gramCountsUdf(2)(col("text"))).as(Seq("bg", "c")))
    val cts = bi.groupBy("bg").agg(sum(col("c")).as("ct"))
    val total = cts.agg(sum(col("ct")).as("t"))
    bi.join(broadcast(cts), "bg")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(
        sum(col("c")).as("n_bigrams"),
        sum(when(col("ct") * 1000 < col("t"), col("c").cast("long")).otherwise(0L)).as("rare_ct"))
      .withColumn("rare_frac", col("rare_ct").cast("double") / col("n_bigrams"))
      .withColumn("keep", col("rare_frac") <= 0.25)
  }

  /** Pruned-vocabulary variant of [[bigramFluency]] — the 100 TB shape of
    * its broadcast. At web scale bigram TYPES grow into the billions and the
    * full count table stops being broadcastable ("vocabulary-bounded" is
    * optimistic). But this filter only ever asks `c(bg) < Σc/1000`, so any
    * bigram pruned by a min-count threshold `minCount ≤ Σc/1000` is rare BY
    * CONSTRUCTION: drop it from the table before the broadcast, score with a
    * LEFT join, and count the unmatched rows as rare. The result is exactly
    * equal — not an approximation — WHILE (minCount−1)·1000 < Σc holds, and
    * that precondition is enforced by a runtime guard inside the plan (a
    * violating corpus/minCount combination raises instead of silently
    * over-counting rares); the TextOpsSpec equality test gates the default.
    * Under a Zipf law almost all types sit below any fixed threshold, so
    * the broadcast shrinks by orders of magnitude.
    *
    * Switchover thresholds: (1) keep [[bigramFluency]]'s unpruned broadcast
    * while the count table is below spark.sql.autoBroadcastJoinThreshold;
    * (2) beyond that, prune at `minCount = Σc/1000` — the rarity cutoff
    * itself — which makes the broadcast exactly the non-rare head of the
    * vocabulary, and counts summing to Σc bound that head at ≤1000 types:
    * the broadcast cannot outgrow memory no matter the corpus; (3) for a
    * smaller `minCount` whose head still exceeds executor memory, drop the
    * `broadcast` hint and the scorer becomes a shuffle join AQE can
    * skew-split. */
  def bigramFluencyPruned(spark: SparkSession, dir: String,
                          minCount: Long = 2): DataFrame = {
    val bi = docs(spark, dir)
      .select(col("doc_id"), explode(gramCountsUdf(2)(col("text"))).as(Seq("bg", "c")))
    // Σc over ALL occurrences — the LM's probability mass is unchanged by
    // pruning the table, so it comes from the UNFILTERED count table (not a
    // separate scan of the stream: both consumers share ctsAll's Exchange,
    // so the corpus is exploded once for the whole count side)
    val ctsAll = bi.groupBy("bg").agg(sum(col("c")).as("ct"))
    val total = ctsAll.agg(sum(col("ct")).as("t"))
    val cts = ctsAll.filter(col("ct") >= minCount)
    // Runtime guard on the lossless precondition (round-6 ADVICE): pruning
    // is exact only while every pruned entry (ct ≤ minCount−1) is genuinely
    // rare, i.e. (minCount−1)·1000 < Σc. Enforced IN the plan — the guarded
    // `t` feeds rare_ct, so Catalyst cannot prune it, no extra job runs, and
    // a violating corpus/minCount combination fails the query loudly instead
    // of silently over-counting rares.
    val guarded = when(lit((minCount - 1) * 1000L) < col("t"), col("t"))
      .otherwise(raise_error(concat(
        lit(s"bigramFluencyPruned: minCount=$minCount breaks the lossless " +
          s"precondition (minCount-1)*1000 < total bigram occurrences (= "),
        col("t").cast("string"),
        lit("); lower minCount or use bigramFluency"))).cast("long"))
    bi.join(broadcast(cts), Seq("bg"), "left")
      .crossJoin(broadcast(total))
      .withColumn("t", guarded)
      .groupBy("doc_id")
      .agg(
        sum(col("c")).as("n_bigrams"),
        sum(when(col("ct").isNull || col("ct") * 1000 < col("t"),
          col("c").cast("long")).otherwise(0L)).as("rare_ct"))
      .withColumn("rare_frac", col("rare_ct").cast("double") / col("n_bigrams"))
      .withColumn("keep", col("rare_frac") <= 0.25)
  }

  /** Fixed-size token chunking with overlap — sequence prep for training and
    * retrieval windows: chunks of `chunkSize` tokens every `stride` tokens
    * (overlap = chunkSize − stride), last chunk truncated, one chunk for docs
    * shorter than a window. Pure per-row explode — no shuffle at all; chunk
    * identity is (doc_id, chunk_idx), deterministic for any layout. */
  def chunkDocs(spark: SparkSession, dir: String,
                chunkSize: Int = 64, stride: Int = 48): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), tokensCol(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") > 0)
      .withColumn("n_chunks",
        expr(s"(greatest(n - $chunkSize, 0) + $stride - 1) div $stride + 1"))
      .withColumn("chunk_idx", explode(expr("sequence(0, cast(n_chunks - 1 as int))")))
      .withColumn("start_tok", col("chunk_idx") * stride)
      .withColumn("chunk_len", least(lit(chunkSize), col("n") - col("start_tok")))
      .select(col("doc_id"), col("chunk_idx"),
        col("start_tok").cast("long").as("start_tok"),
        col("chunk_len").cast("long").as("chunk_len"),
        element_at(col("toks"), col("start_tok") + 1).as("first_term"),
        element_at(col("toks"), col("start_tok") + col("chunk_len")).as("last_term"))

  /** Boilerplate/template detection — the C4-style move of finding repeated
    * headers/banners before stripping them: documents sharing an identical
    * leading prefix are template candidates; one row per template with its
    * incidence and cross-source spread. One prefix-keyed shuffle; per-doc
    * flagging is then a broadcast join against this (small) template table. */
  def boilerplate(spark: SparkSession, dir: String,
                  prefixLen: Int = 16, minDocs: Long = 3): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), col("source"), substring(col("text"), 1, prefixLen).as("prefix"))
      .groupBy("prefix")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        min(col("doc_id")).as("example_doc_id"))
      .filter(col("n_docs") >= minDocs)

  /** Feature-hashing document embeddings (the hashing trick, Weinberger et
    * al., ICML'09): every doc becomes a 64-dim integer vector with no
    * vocabulary, no training, no shuffle — one linear scan with the
    * [[graft.functions.TextFns.hashEmbed]] kernel (md5 once per distinct
    * term), then posexplode to (doc_id, d, val) rows so the driver can
    * hash-compare exactly. This is the bootstrap featurizer that lets the
    * vector suite (kNN / SemDeDup / PQ) run on a raw text corpus before any
    * learned embeddings exist. Emitting all 64 dims (zeros included) keeps
    * the output a dense matrix — partition-count × 64 rows per partition,
    * still a pure map stage. */
  def hashEmbedDocs(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), posexplode(hashEmbedUdf(tokensCol(col("text")))))
      .select(col("doc_id"), col("pos").cast("int").as("d"), col("col").as("val"))

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): score every doc
    * with a corpus-trained bigram LM and split the corpus into head /
    * middle / tail terciles — the classic "keep the fluent third, inspect
    * the middle, drop the tail" curation move. The LM score is the
    * tf-weighted sum of floor(2²⁰·p(w₂|w₁)) over the doc's bigrams (exact
    * integers; the probability is ONE double division — cross-engine
    * deterministic, where a log-prob sum would not be), and the tercile
    * cutoffs are exact interpolated percentiles (Spark `percentile` ≡
    * DuckDB `quantile_cont` bit-for-bit, the q42-proven pairing) broadcast
    * as two scalars — no global sort or single-partition window. The bigram
    * table is vocabulary-bounded and broadcasts (the q70 argument); docs
    * with no bigram land in 'tail'. */
  def perplexityBuckets(spark: SparkSession, dir: String): DataFrame = {
    val withAvg = perplexityScored(spark, dir)
    // EXACT interpolated percentile: correct for the oracle, but its
    // aggregation buffer holds every distinct avg_q of the corpus in one
    // place — at 100 TB that single global-cutoff buffer is a memory bomb.
    // Switch the two cutoffs to `approx_percentile` (a mergeable
    // bounded-memory sketch, rank error ≤ 1/accuracy) when the distinct
    // score count stops fitting one aggregation buffer (≳10⁷ distinct
    // values); only a ~1/accuracy rank band of docs near each cutoff can
    // then flip bucket (≥99% agreement at accuracy=10000 in round 6,
    // NOTES_r6.md §3, PLANS.md). DuckDB has no matching sketch, so this
    // exact form carries the oracle.
    val cuts = withAvg.filter(col("n_bigrams") > 0)
      .agg(expr("percentile(avg_q, 1.0/3)").as("c33"),
        expr("percentile(avg_q, 2.0/3)").as("c67"))
    perplexityBucketize(withAvg, cuts)
  }

  /** Shared LM-scoring core of q92: tf-weighted integer-quantized bigram
    * probabilities, one left join back to all docs, avg score per doc.
    * Every (doc, bigram) matches the corpus table by construction, so the
    * bigram left join degenerates to the inner join and the coalesced zero
    * never fires. */
  private def perplexityScored(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val grams = d.select(col("doc_id"), explode(gramCountsUdf(2)(col("text"))))
      .select(col("doc_id"), col("key").as("gram"), col("value").cast("long").as("tf"))
    val corpus = grams.groupBy("gram").agg(sum(col("tf")).as("c12"))
      .withColumn("w1", expr("substring_index(gram, ' ', 1)"))
    val marg = corpus.groupBy("w1").agg(sum(col("c12")).as("c1"))
    val scored = grams
      // grams derives its own prefix key, so the marg join is unambiguous
      .withColumn("gw1", expr("substring_index(gram, ' ', 1)"))
      .join(broadcast(corpus.drop("w1")), Seq("gram"), "left")
      .join(broadcast(marg.withColumnRenamed("w1", "mw1")),
        col("gw1") === col("mw1"), "left")
      .withColumn("q", coalesce(
        floor(col("c12").cast("double") / col("c1") * lit(1048576)).cast("long"), lit(0L)))
      .groupBy("doc_id")
      .agg(sum(col("tf") * col("q")).as("score_sum"), sum(col("tf")).as("n_bigrams"))
    d.select("doc_id").join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("score_sum"), lit(0L)).as("score_sum"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"))
      .withColumn("avg_q",
        when(col("n_bigrams") > 0,
          col("score_sum").cast("double") / col("n_bigrams")).otherwise(lit(-1.0)))
  }

  private def perplexityBucketize(withAvg: DataFrame, cuts: DataFrame): DataFrame =
    withAvg.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("n_bigrams"), col("score_sum"),
        when(col("n_bigrams") === 0, lit("tail"))
          .when(col("avg_q") > col("c67"), lit("head"))
          .when(col("avg_q") > col("c33"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))

  /** Token-distribution drift between the historical store (doc_id < max/3,
    * the q74/q76/q85 split) and the incoming batch — the ingest-monitoring
    * diagnostic: a crawler config change, a new spam source, or an encoding
    * fault shows up as vocabulary drift BEFORE it poisons the corpus.
    * Per-token chi-square contribution (observed batch count vs the count
    * the store distribution predicts, Laplace-smoothed so batch-only tokens
    * are defined), top-20 by contribution. Cross-engine exact: counts are
    * integers, the expected value and contribution are fixed-order double
    * expressions, and the ranked contribution is floor(x·2²⁰)-quantized
    * before comparison. One scan per half (token aggregate), a full-outer
    * token join, TakeOrderedAndProject top-k. */
  def tokenDrift(spark: SparkSession, dir: String, topK: Int = 20): DataFrame = {
    val d = docs(spark, dir)
    val wm = d.agg(expr("max(doc_id) div 3").as("wm"))
    val toks = d.crossJoin(broadcast(wm))
      .select(col("doc_id"), col("wm"), explode(tokensCol(col("text"))).as("token"))
    def side(f: Column): DataFrame = toks.filter(f).groupBy("token")
      .agg(count(lit(1)).as("ct"))
    val store = side(col("doc_id") < col("wm"))
      .select(col("token"), col("ct").as("store_ct"))
    val batch = side(col("doc_id") >= col("wm"))
      .select(col("token"), col("ct").as("batch_ct"))
    val joined = store.join(batch, Seq("token"), "full_outer")
      .select(col("token"),
        coalesce(col("store_ct"), lit(0L)).as("store_ct"),
        coalesce(col("batch_ct"), lit(0L)).as("batch_ct"))
    val tot = joined.agg(
      sum(col("store_ct")).as("st_tot"), sum(col("batch_ct")).as("b_tot"),
      count(lit(1)).as("vocab"))
    val e = (col("store_ct") + lit(1)).cast("double") / (col("st_tot") + col("vocab")) * col("b_tot")
    val contrib = (col("batch_ct") - col("e")) * (col("batch_ct") - col("e")) / col("e")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("contrib_q").desc, col("token"))
    joined.crossJoin(broadcast(tot))
      .withColumn("e", e)
      .withColumn("contrib_q", floor(contrib * lit(1048576)).cast("long"))
      .orderBy(col("contrib_q").desc, col("token")).limit(topK)
      .withColumn("rnk", row_number().over(w))
      .select(col("token"), col("store_ct"), col("batch_ct"), col("contrib_q"), col("rnk"))
  }

  /** Content-defined chunking (CDC — the rsync/LBFS move, Muthitacharoen et
    * al. SOSP'01) for incremental corpus storage and sub-document dedup:
    * chunk boundaries follow content (rolling-hash mod 64), so a re-crawl
    * with one inserted paragraph re-fingerprints ONE chunk, not the whole
    * doc — shift-resistant where [[spanDedup]]'s fixed spans are not. Emits
    * (doc_id, seg_idx, start, len, fp = md5 of the chunk text). The kernel
    * returns (start, len) pairs in one pass, so the whole op is
    * Scan → posexplode → md5 projections: zero shuffles. */
  def cdcChunks(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), col("text"), posexplode(cdcSegmentsUdf(col("text"))))
      .select(col("doc_id"), col("pos").cast("int").as("seg_idx"),
        col("col._1").as("start"), col("col._2").as("len"),
        md5(expr("substring(text, col._1, col._2)").cast("binary")).as("fp"))

  /** Classifier-based quality filtering (the GPT-3 / CCNet / LLaMA corpus
    * move: a learned quality model scores every document, low scores are
    * culled or downsampled): inference expressed as dataflow — the weight
    * vector broadcasts (here it rides the UDF closure; a real model's
    * coefficients would broadcast identically) and scoring is ONE map pass
    * over the [[hashEmbedDocs]] features, no shuffle. Weights are the
    * deterministic md5-derived stand-in
    * ([[graft.functions.TextFns.classifierWeights]] — no model registry in
    * this environment); the score is an exact integer dot, so the whole
    * inference replays in the oracle. keep = score ≥ 0. */
  def classifierFilter(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("score", classifierScoreUdf(tokensCol(col("text"))))
      .select(col("doc_id"), col("score"), (col("score") >= 0).as("keep"))

  /** CLASSIFIER CALIBRATION / RELIABILITY TABLE (q141) — the eval step
    * between training a quality classifier (q88) and trusting its
    * threshold: bucket the score range, and per bucket report how often an
    * independent quality signal agrees (here the q66 repetition rule,
    * 2·|distinct tokens| ≥ |tokens| — integer-exact on both engines). A
    * well-calibrated filter's agreement rate rises monotonically with the
    * score bucket; a flat table means the threshold is arbitrary. Same
    * methodology as reliability diagrams [DeGroot & Fienberg 1983; Guo et
    * al., ICML'17 for the modern treatment].
    *
    * Scale shape: scoring + labeling is the q88 map pass; binning uses a
    * broadcast 1-row (min, max) frame and INTEGER fixed-width buckets —
    * NOT ntile, whose global sort would shuffle the corpus to one ordering
    * (the q14/q109 anti-pattern); the report aggregate is
    * map-side-combinable on a ≤ bins-key domain. */
  def classifierCalibration(spark: SparkSession, dir: String,
                            bins: Int = 10): DataFrame = {
    val scored = docs(spark, dir)
      .withColumn("toks", tokensCol(col("text")))
      .withColumn("score", classifierScoreUdf(col("toks")))
      .withColumn("label",
        (size(array_distinct(col("toks"))) * 2 >= size(col("toks"))).cast("long"))
      .select(col("doc_id"), col("score"), col("label"))
    val bounds = scored.agg(min(col("score")).as("lo"), max(col("score")).as("hi"))
    scored.crossJoin(broadcast(bounds))
      .withColumn("bin",
        when(col("hi") === col("lo"), lit(0L)).otherwise(
          floor((col("score") - col("lo")) * bins / (col("hi") - col("lo") + 1)))
          .cast("long"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        (sum(col("score")).cast("double") / count(lit(1))).as("mean_score"),
        (sum(col("label")).cast("double") / count(lit(1))).as("agree_rate"))
  }

  /** SPLIT-CONFORMAL THRESHOLD CALIBRATION (q184) — [Vovk et al. 2005;
    * Papadopoulos et al. 2002 (split CP); Angelopoulos & Bates 2023
    * tutorial]: where q141's reliability table ASSESSES the q88 quality
    * classifier, this CALIBRATES it with a finite-sample guarantee — pick
    * threshold t_α = the ⌊(n+1)α⌋-th SMALLEST calibration score, and for
    * any exchangeable test doc P(score < t_α) ≤ α, distribution-free, no
    * model assumptions. The "cull the worst α of the stream with a
    * provable rate" knob a production filter wants instead of an eyeballed
    * cutoff.
    *
    * Scale shape — why the calibration set is a BOUNDED deterministic
    * sample (the smallest `calK` md5 hashes, the q164 bottom-k machinery,
    * k-bounded topK agg): conformal validity needs only exchangeability
    * of the calibration draw, and its precision improves as 1/√n — a few
    * hundred points give percent-level α resolution, so shipping the whole
    * corpus into a global order statistic (the ntile anti-pattern) buys
    * nothing. Thresholds are EXACT integer order statistics of the
    * 2²⁰-free integer classifier scores; coverage on the held-out rest is
    * two exact counts + one integer div. One corpus scan; the calibration
    * array and per-α thresholds ride a broadcast 1-row frame. */
  def conformalThreshold(spark: SparkSession, dir: String, calK: Int = 64,
                         alphas: Seq[Int] = Seq(5, 10, 20)): DataFrame = {
    val scored = docs(spark, dir)
      .select(col("doc_id"), classifierScoreUdf(tokensCol(col("text"))).as("score"))
      .withColumn("h",
        conv(substring(md5(concat(lit("conf_"),
          col("doc_id").cast("string")).cast("binary")), 1, 13), 16, 10).cast("long"))
    val cal = scored.agg(graft.functions.Aggregators.topK(
        calK, negate(col("h")).cast("double"), col("doc_id"), col("score")).as("cal"))
      .select(
        size(col("cal")).cast("long").as("n_cal"),
        array_sort(expr("transform(cal, e -> e.p)")).as("cal_scores"),
        expr("transform(cal, e -> e.id)").as("cal_ids"))
    val withCal = scored.crossJoin(broadcast(cal))
      .withColumn("is_cal", array_contains(col("cal_ids"), col("doc_id")))
    withCal
      .select(col("score"), col("is_cal"), col("n_cal"), col("cal_scores"),
        explode(array(alphas.map(lit(_)): _*)).as("alpha_pct"))
      .withColumn("k_rank", expr("((n_cal + 1) * alpha_pct) div 100"))
      .withColumn("threshold",
        when(col("k_rank") >= 1, element_at(col("cal_scores"), col("k_rank").cast("int")))
          .otherwise(lit(Long.MinValue)))
      .filter(!col("is_cal"))
      .groupBy(col("alpha_pct"), col("n_cal"), col("k_rank"), col("threshold"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("score") >= col("threshold"), 1L).otherwise(0L)).as("n_pass"))
      .withColumn("coverage_q",
        when(col("n_test") > 0, expr("(n_pass * 1048576) div n_test")).otherwise(lit(-1L)))
  }

  /** ROBUST MAD OUTLIER FLAGS (q185) — [Hampel 1974; Leys et al. 2013
    * "Detecting outliers: use MAD, not SD"]: per-source median/MAD of the
    * q88 quality score and the 3σ-equivalent robust flag
    * |score − med| > 3 · 1.4826 · MAD — the outlier screen a mixed-source
    * corpus runs BEFORE trusting per-source quality thresholds (mean/SD
    * break down exactly when outliers exist; the median/MAD pair has a 50%
    * breakdown point). The per-doc robust z is the triage column; the flag
    * is what a curation pipeline quarantines on.
    *
    * Cross-engine exactness: scores are exact integers (q88); median and
    * MAD are Spark `percentile` ≡ DuckDB `quantile_cont` (linear
    * interpolation parity proven bit-for-bit by q42/q95 incl. float
    * artifacts); the flag compares doubles built by the same expression
    * tree. Scale shape: one scoring scan; two percentile aggs over the
    * BOUNDED source domain (the q122-axis argument — per-group holistic
    * buffers are the q42 caveat, with q132/q153's mergeable histogram
    * cells as the unbounded-group path); the per-doc flag pass re-joins
    * the 20-row stats frame broadcast. */
  def madOutliers(spark: SparkSession, dir: String): DataFrame = {
    val scored = docs(spark, dir)
      .select(col("source"), col("doc_id"),
        classifierScoreUdf(tokensCol(col("text"))).as("score"))
    val med = scored.groupBy("source")
      .agg(expr("percentile(score, 0.5)").as("med"))
    val stats = scored.join(broadcast(med), Seq("source"))
      .withColumn("adev", abs(col("score").cast("double") - col("med")))
      .groupBy("source")
      .agg(max(col("med")).as("med"), expr("percentile(adev, 0.5)").as("mad"),
        count(lit(1)).as("n"))
    scored.join(broadcast(stats), Seq("source"))
      .select(col("doc_id"), col("source"), col("score"), col("med"), col("mad"),
        (abs(col("score").cast("double") - col("med"))
          > lit(3.0) * lit(1.4826) * col("mad")).as("outlier"))
  }

  /** VOCABULARY NOVELTY CURVE (q186) — Heaps'-law growth made operational
    * [Heaps 1978; Baeza-Yates & Navarro 2000 on V(n) ≈ K·n^β]: per source,
    * how much NEW 3-gram vocabulary each successive slice of the corpus
    * contributes — the crawl-exhaustion signal (a saturating curve says
    * more of this source buys no new content; the q181 selection's
    * within-source counterpart). Docs land in 8 slices by an md5-derived
    * hash of the doc id — map-side arithmetic, NOT a per-source row_number
    * (whose partition grows with the source at 100 TB); a plain
    * `doc_id mod 8` would ALIAS against the fixture's mod-20 source
    * assignment (gcd 4 ⇒ two slices per source — measured), and Heaps
    * growth holds under random-order exposure, which hash-slicing is.
    *
    * All-integer outputs (the log-log Heaps FIT is deliberately out: ln's
    * last ulp differs across libm builds — the q81 lesson; the raw curve
    * carries strictly more information and hash-compares): per
    * (source, slice) the slice token count, distinct shingles SEEN in the
    * slice, shingles first seen there (new vocab), the cumulatives, and
    * novelty_q = 2²⁰·new/seen.
    *
    * Scale shape: one corpus scan to (source, shingle, slice) grain; new
    * vocab = a min-slice partial agg over (source, shingle); per-slice
    * seen = a distinct count at bounded (source, slice) grain; cumulatives
    * are windows over the 8-row-per-source frame — control-plane. */
  def noveltyCurve(spark: SparkSession, dir: String, slices: Int = 8): DataFrame = {
    val d = docs(spark, dir).withColumn("slice", noveltySlice(slices))
    noveltyFrom(
      d.groupBy("source", "slice")
        .agg(sum(size(tokensCol(col("text"))).cast("long")).as("slice_tokens")),
      d.select(col("source"), col("slice"),
          explode(distinctShinglesUdf(3)(col("text"))).as("sh"))
        .distinct())
  }

  /** The md5-derived slice assignment of [[noveltyCurve]] — a PURE function
    * of doc_id (map-side, order-free), which is what makes the curve
    * incrementally maintainable: a doc's slice never changes as the corpus
    * grows, so the (source, slice, shingle) presence cells are first-seen
    * rows and the (source, slice) token sums are additive. */
  private[graft] def noveltySlice(slices: Int): Column =
    pmod(conv(substring(md5(concat(lit("slice_"),
      col("doc_id").cast("string")).cast("binary")), 1, 13), 16, 10).cast("long"),
      lit(slices.toLong)).cast("int")

  /** The [[noveltyCurve]] walk from its two sufficient statistics — the
    * (source, slice, slice_tokens) sums and the DISTINCT
    * (source, slice, sh) presence cells. Per-slice seen counts, first-seen
    * slices (new vocab = min slice per (source, sh)) and the cumulatives
    * all derive from the cells at read time, so the maintained store
    * ([[graft.streaming.MixtureStream.applyNoveltyBatch]]) replays the
    * batch curve exactly. */
  def noveltyFrom(toks: DataFrame, sh: DataFrame): DataFrame = {
    val Window = org.apache.spark.sql.expressions.Window
    val seen = sh.groupBy("source", "slice").agg(count(lit(1)).as("slice_seen"))
    val fresh = sh.groupBy("source", "sh").agg(min(col("slice")).as("m"))
      .groupBy(col("source"), col("m").as("slice"))
      .agg(count(lit(1)).as("slice_new"))
    val w = Window.partitionBy("source").orderBy("slice")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks.join(seen, Seq("source", "slice"))
      .join(fresh, Seq("source", "slice"), "left")
      .withColumn("slice_new", coalesce(col("slice_new"), lit(0L)))
      .withColumn("cum_tokens", sum(col("slice_tokens")).over(w))
      .withColumn("cum_vocab", sum(col("slice_new")).over(w))
      .withColumn("novelty_q", expr("(slice_new * 1048576) div slice_seen"))
  }

  /** TERM BURSTINESS / VMR (q188) — [Church & Gale 1995, "Poisson
    * mixtures"]: a term's variance-to-mean ratio of per-document counts
    * separates CONTENT terms (bursty — absent from most docs, repeated
    * where present; VMR ≫ 1) from FUNCTION-word-like terms (≈ Poisson,
    * VMR ≈ 1). The corpus-linguistics screen behind stopword induction,
    * boilerplate detection (template phrases are extreme bursts), and
    * tf-idf sanity — which terms idf can be trusted on.
    *
    * Exact integers end-to-end: with zero-count docs included, mean =
    * Σtf/N and the biased variance fold into
    * VMR = (N·Σtf² − (Σtf)²) / (N·Σtf) — three decimal(38,0)-lifted sums
    * from ONE (term) partial agg over the term-doc tf frame (zeros
    * contribute nothing to any Σ, so the frame stays sparse), quantized
    * floor(2²⁰·VMR). Ranking = k-bounded topKStr by (vmr, term) — no
    * vocabulary sort. df ≥ minDf keeps rare-term noise out (a df-1 term is
    * trivially "bursty"). */
  def termBurstiness(spark: SparkSession, dir: String, topK: Int = 20,
                     minDf: Long = 5): DataFrame = {
    val d = docs(spark, dir)
    val n = d.agg(count(lit(1)).as("n_docs"))
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val stats = d.select(col("doc_id"), explode(gramCountsUdf(1)(col("text"))))
      .select(col("key").as("term"), col("value").cast("long").as("tf"))
      .groupBy("term")
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("tf_sum"),
        sum(dec(col("tf")) * dec(col("tf"))).as("tf2_sum"))
      .filter(col("df") >= minDf)
      .crossJoin(broadcast(n))
      .withColumn("vmr_q", expr(
        """cast((1048576 * (cast(n_docs as decimal(38,0)) * tf2_sum
          |  - cast(tf_sum as decimal(38,0)) * tf_sum))
          | div (cast(n_docs as decimal(38,0)) * tf_sum) as bigint)""".stripMargin))
    stats.agg(graft.functions.Aggregators.topKStr(
        topK, col("vmr_q").cast("double"), col("term"), col("vmr_q")).as("top"))
      .select(posexplode(col("top")).as(Seq("pos", "e")))
      .select((col("pos") + 1).cast("int").as("rnk"),
        col("e.id").as("term"), col("e.p").as("vmr_q"))
      .join(stats.select("term", "df", "tf_sum"), Seq("term"))
      .select(col("rnk"), col("term"), col("df"), col("tf_sum"), col("vmr_q"))
  }

  /** FILTER AGREEMENT / COHEN'S KAPPA (q189) — [Cohen 1960]: per source,
    * the chance-corrected agreement between two INDEPENDENT quality
    * filters — the q88 classifier (score ≥ 0) and the q66/q141 repetition
    * rule (2·|distinct| ≥ |tokens|). Raw agreement is misleading when both
    * filters say "keep" to almost everything; κ subtracts the agreement
    * two coin-flips with the same marginals would get. Low κ on a source =
    * the filters disagree there = the docs a human should look at first
    * (the label-noise triage of curation pipelines).
    *
    * Exact rational κ: with confusion counts (n11, n10, n01, n00) and
    * N = their sum, κ = (N·(n11+n00) − E) / (N² − E) where
    * E = (n11+n10)(n11+n01) + (n01+n00)(n10+n00) — all integers from ONE
    * conditional-sum aggregate per source; floor(2²⁰·κ) in decimal(38,0)
    * (κ can be negative — worse than chance — and integral `div` truncates
    * toward zero IDENTICALLY in both engines). Degenerate sources (both
    * filters constant ⇒ denominator 0) emit null. */
  def filterKappa(spark: SparkSession, dir: String): DataFrame =
    kappaFrom(kappaConf(docs(spark, dir)))

  /** The per-source confusion-count aggregate of [[filterKappa]] — both
    * filter labels are doc-pure, so the four counts are ADDITIVE cells
    * (the streaming maintainer's sufficient statistic). */
  private[graft] def kappaConf(docFrame: DataFrame): DataFrame =
    docFrame
      .withColumn("toks", tokensCol(col("text")))
      .select(col("source"),
        (classifierScoreUdf(col("toks")) >= 0).as("a"),
        (size(array_distinct(col("toks"))) * 2 >= size(col("toks"))).as("b"))
      .groupBy("source").agg(
        sum(when(col("a") && col("b"), 1L).otherwise(0L)).as("n11"),
        sum(when(col("a") && !col("b"), 1L).otherwise(0L)).as("n10"),
        sum(when(!col("a") && col("b"), 1L).otherwise(0L)).as("n01"),
        sum(when(!col("a") && !col("b"), 1L).otherwise(0L)).as("n00"))

  /** The κ arithmetic from a (source, n11, n10, n01, n00) confusion frame —
    * shared by the batch operator and the maintained read path. */
  def kappaFrom(conf: DataFrame): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    conf
      .withColumn("n", col("n11") + col("n10") + col("n01") + col("n00"))
      .withColumn("e",
        dec(col("n11") + col("n10")) * dec(col("n11") + col("n01"))
          + dec(col("n01") + col("n00")) * dec(col("n10") + col("n00")))
      .withColumn("num", dec(col("n")) * dec(col("n11") + col("n00")) - col("e"))
      .withColumn("den", dec(col("n")) * dec(col("n")) - col("e"))
      .select(col("source"), col("n11"), col("n10"), col("n01"), col("n00"),
        when(col("den") =!= dec(lit(0L)),
          expr("cast((1048576 * num) div den as bigint)")).as("kappa_q"))
  }

  /** Per-source counts behind [[bhFdr]]: docs and length-filter passes
    * (n_chars > 300 — a stored integer column, no string-length semantics
    * to diverge cross-engine). Both are additive cells, so the maintained
    * twin rides [[graft.streaming.EpochStore]] unchanged. */
  private[graft] def bhCounts(docFrame: DataFrame): DataFrame =
    docFrame.groupBy("source").agg(
      count(lit(1)).as("n"),
      sum(when(col("n_chars") > 300, 1L).otherwise(0L)).as("passes"))

  /** Acklam's rational approximation to the standard normal quantile
    * Φ⁻¹(p) [P.J. Acklam 2003, the widely-reproduced public algorithm;
    * |relative error| < 1.15e-9]. Used ONLY to generate the BH threshold
    * constants — BOTH engine sides consume the same Scala-computed doubles
    * (the knnEdgeCtes shared-constant rule), so approximation quality
    * affects statistical sharpness, never the cross-engine gate. */
  private[graft] def invNorm(p: Double): Double = {
    require(p > 0.0 && p < 1.0, s"invNorm: p must be in (0,1), got $p")
    val a = Array(-3.969683028665376e+01, 2.209460984245205e+02,
      -2.759285104469687e+02, 1.383577518672690e+02,
      -3.066479806614716e+01, 2.506628277459239e+00)
    val b = Array(-5.447609879822406e+01, 1.615858368580409e+02,
      -1.556989798598866e+02, 6.680131188771972e+01, -1.328068155288572e+01)
    val c = Array(-7.784894002430293e-03, -3.223964580411365e-01,
      -2.400758277161838e+00, -2.549732539343734e+00,
      4.374664141464968e+00, 2.938163982698783e+00)
    val d = Array(7.784695709041462e-03, 3.224671290700398e-01,
      2.445134137142996e+00, 3.754408661907416e+00)
    val pl = 0.02425
    if (p < pl) {
      val q = math.sqrt(-2.0 * math.log(p))
      (((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1.0)
    } else if (p <= 1.0 - pl) {
      val q = p - 0.5; val r = q * q
      (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r + a(5)) * q /
        (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1.0)
    } else {
      val q = math.sqrt(-2.0 * math.log(1.0 - p))
      -(((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1.0)
    }
  }

  /** The BH rank-i critical z for K two-sided tests at level `alpha`:
    * Φ⁻¹(1 − α·i/(2K)) — p_(i) ≤ α·i/K rewritten in z-space so neither
    * engine ever evaluates a normal CDF at runtime. */
  private[graft] def bhZCrit(kTotal: Int, rnk: Int, alpha: Double): Double =
    invNorm(1.0 - alpha * rnk / (2.0 * kTotal))

  /** BENJAMINI–HOCHBERG FILTER SIGNIFICANCE (q201) — multiple-testing
    * control for the pipeline's per-source hypothesis family [Benjamini &
    * Hochberg 1995, the step-up FDR procedure]: q136/q140/q145 run ONE
    * test each, but a real curation pass asks "which of my K sources
    * deviate on this filter" — K simultaneous tests where α-per-test
    * yields ~αK false alarms. Per source, a one-vs-rest two-proportion
    * z-test on the length-filter pass rate (pooled p̂ is global, so every
    * source shares it); BH then rejects ranks 1..i* where i* = max{i :
    * p_(i) ≤ α·i/K} — equivalently |z|_(i) ≥ Φ⁻¹(1 − α·i/(2K)), the
    * z-space form both engines evaluate against the SAME Scala-generated
    * threshold constants. Note the step-up subtlety the spec pins: a rank
    * BELOW i* is rejected even when its own comparison fails.
    *
    * Scale shape: one scan into a K-key partial agg; everything after is
    * driver arithmetic on the collected K rows (z per the q136
    * mirrored-IEEE discipline, rank, threshold, step-up — see
    * [[bhFdrFrom]] for why the walk is deliberately eager). The
    * (source → n, passes) pair is the additive sufficient
    * statistic — the maintained twin is EpochStore's simplest member
    * ([[graft.streaming.MixtureStream.applyBhBatch]]). */
  def bhFdr(spark: SparkSession, dir: String, alpha: Double = 0.05): DataFrame =
    bhFdrFrom(bhCounts(docs(spark, dir)), alpha)

  /** The BH walk from a (source, n, passes) counts frame — shared by the
    * batch operator and the maintained read path. ONE action: the K-row
    * counts land on the driver (bounded control plane — K is the source
    * count) and every downstream step — z, rank, thresholds, step-up —
    * is driver arithmetic over that single snapshot. Two reasons this is
    * deliberately NOT a lazy plan: the corpus cost stays at exactly the
    * one K-key agg scan (an eager totals head() plus a lazy plan would
    * re-run the aggregation at collect time), and the maintained read is
    * snapshot-CONSISTENT — a lazy plan re-reading the store could rank a
    * source absorbed after the pooled totals were captured, silently
    * dropping it at the threshold join (round-15 review #1/#4). The
    * driver z arithmetic is the same IEEE expression tree as the
    * oracle's SQL, so the doubles hash-compare. */
  def bhFdrFrom(counts: DataFrame, alpha: Double = 0.05): DataFrame = {
    val spark = counts.sparkSession
    val (rows, nn, xx, phat) = collectSourceCounts(counts, "bhFdr")
    val k = rows.length
    val zs = rows.map { case (s, n, x) =>
      val z = (x.toDouble / n - (xx - x).toDouble / (nn - n)) /
        math.sqrt(phat * (1.0 - phat) * (1.0 / n + 1.0 / (nn - n)))
      (s, n, x, z)
    }
    // tie-break collation pin (round-16 ADVICE #3): DuckDB's ORDER BY
    // compares VARCHARs as UTF-8 BYTES while Java String order compares
    // UTF-16 code units — the two diverge between supplementary-plane
    // sources and U+E000..U+FFFF ones, which on an exact |z| tie would
    // flip p_rank/z_crit assignments cross-engine. Rank on UTF-8 bytes so
    // the tie order is collation-independent.
    val ranked = zs.sortBy { case (s, _, _, z) => (-math.abs(z), s) }(
      Ordering.Tuple2(Ordering.Double.TotalOrdering, utf8ByteOrdering))
      .zipWithIndex.map { case ((s, n, x, z), i) =>
        (s, n, x, z, i + 1, bhZCrit(k, i + 1, alpha)) }
    val istar = ranked.filter(t => math.abs(t._4) >= t._6)
      .map(_._5).maxOption.getOrElse(0)
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("source", StringType, nullable = false),
      StructField("n", LongType, nullable = false),
      StructField("passes", LongType, nullable = false),
      StructField("z", DoubleType, nullable = false),
      StructField("p_rank", IntegerType, nullable = false),
      StructField("z_crit", DoubleType, nullable = false),
      StructField("reject", BooleanType, nullable = false)))
    val out = ranked.map { case (s, n, x, z, i, c) =>
      org.apache.spark.sql.Row(s, n, x, z, i, c, i <= istar) }
    spark.createDataFrame(java.util.Arrays.asList(out: _*), schema)
  }

  /** POWER / MINIMUM-DETECTABLE-EFFECT TABLE (q202) — the design
    * companion of [[bhFdr]] [Cohen 1988; the standard two-proportion
    * power identity n = (z_{α/2}+z_β)²·2p̂(1−p̂)/δ²]: q201 answers "which
    * sources deviate significantly", this answers the question that must
    * come FIRST — "is each source's sample even large enough to detect a
    * deviation worth acting on". Per source: the observed one-vs-rest
    * rate delta, its pooled standard error, the minimum detectable
    * effect at (α, power) — MDE = (z_{α/2}+z_β)·se — and the per-group
    * sample size the OBSERVED delta would need (NULL when the delta is
    * exactly zero; emitted as double so a microscopic delta cannot
    * overflow a bigint cast differently across engines). `powered` =
    * the observed effect clears the MDE. The z-sum is ONE Scala-computed
    * constant consumed by both engines (the q201 shared-constant rule).
    *
    * Same scale shape and eager single-snapshot walk as [[bhFdrFrom]];
    * rides the SAME (source → n, passes) additive store — one store,
    * two decision reports (the q191/q198 pattern). */
  def powerMde(spark: SparkSession, dir: String, alpha: Double = 0.05,
               power: Double = 0.8): DataFrame =
    powerMdeFrom(bhCounts(docs(spark, dir)), alpha, power)

  /** Unsigned-lexicographic UTF-8 byte order — DuckDB's default VARCHAR
    * collation, pinned on the Scala side so any driver-side sort that a
    * DuckDB oracle replays with ORDER BY breaks ties identically for
    * non-ASCII strings (Java's String order would diverge on
    * supplementary-plane vs U+E000..U+FFFF code points). */
  private[graft] val utf8ByteOrdering: Ordering[String] =
    (a: String, b: String) => {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      var r = 0
      val n = math.min(x.length, y.length)
      while (r == 0 && i < n) {
        r = (x(i) & 0xff) - (y(i) & 0xff)
        i += 1
      }
      if (r != 0) r else x.length - y.length
    }

  /** The shared collect/guard preamble of [[bhFdrFrom]] and
    * [[powerMdeFrom]] — ONE copy of the load-bearing snapshot rule
    * (collect the K rows once, compute driver-side; round-15 review) and
    * of the named degenerate guards. Returns (rows, N, X, p̂). */
  private def collectSourceCounts(counts: DataFrame, what: String)
  : (Array[(String, Long, Long)], Long, Long, Double) = {
    val rows = counts
      .select(col("source"), col("n").cast("long"), col("passes").cast("long"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    require(rows.length >= 2,
      s"$what: one-vs-rest needs at least 2 sources, found ${rows.length}")
    val nn = rows.map(_._2).sum
    val xx = rows.map(_._3).sum
    require(xx > 0L && xx < nn,
      s"$what: degenerate global pass rate ($xx of $nn) — the pooled " +
        "z-test variance is zero; pick a mid-range filter")
    (rows, nn, xx, xx.toDouble / nn)
  }

  /** The power walk from a (source, n, passes) counts frame — shared by
    * the batch operator and the maintained read path. */
  def powerMdeFrom(counts: DataFrame, alpha: Double = 0.05,
                   power: Double = 0.8): DataFrame = {
    val spark = counts.sparkSession
    val (rows, nn, xx, phat) = collectSourceCounts(counts, "powerMde")
    val zsum = invNorm(1.0 - alpha / 2.0) + invNorm(power)
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("source", StringType, nullable = false),
      StructField("n", LongType, nullable = false),
      StructField("rate", DoubleType, nullable = false),
      StructField("delta", DoubleType, nullable = false),
      StructField("se", DoubleType, nullable = false),
      StructField("mde", DoubleType, nullable = false),
      StructField("n_req", DoubleType, nullable = true),
      StructField("powered", BooleanType, nullable = false)))
    val out = rows.sortBy(_._1).map { case (s, n, x) =>
      val rate = x.toDouble / n
      val delta = rate - (xx - x).toDouble / (nn - n)
      val se = math.sqrt(phat * (1.0 - phat) * (1.0 / n + 1.0 / (nn - n)))
      val mde = zsum * se
      val nReq =
        if (delta == 0.0) null
        else java.lang.Double.valueOf(math.ceil(
          zsum * zsum * (2.0 * phat * (1.0 - phat)) / (delta * delta)))
      org.apache.spark.sql.Row(s, n, rate, delta, se, mde, nReq,
        math.abs(delta) >= mde)
    }
    spark.createDataFrame(java.util.Arrays.asList(out: _*), schema)
  }

  /** CUSUM QUALITY-DRIFT DETECTOR (q190) — [Page 1954; the tabular CUSUM
    * of Montgomery's SPC text]: two one-sided cumulative sums over the
    * corpus's ingest order detect a SUSTAINED shift in mean quality score
    * that per-chunk thresholds miss (each chunk individually in-range, the
    * drift only visible accumulated) — the "did the crawler/extractor
    * silently degrade mid-ingest" alarm. Ingest order = 64 doc_id-range
    * chunks (map-side arithmetic off a broadcast 1-row max); signal =
    * chunk mean of the q88 score; allowance k = half the mean absolute
    * chunk deviation, decision interval h = 4k (the textbook δ/2, 4σ-ish
    * defaults, made deterministic).
    *
    * Exact integers: chunk means and the global target are 2²⁰-scaled
    * integral divisions; the recursions sp_t = max(0, sp_{t−1} + x_t − μ − k)
    * and sn_t = max(0, sn_{t−1} − (x_t − μ) − k) fold in plain longs (the
    * q152 EWMA convention), so every sp/sn/alarm hash-compares against the
    * oracle's recursive-CTE replay.
    *
    * Scale shape: one scoring scan into a 64-key partial agg; the walk
    * runs over the chunk-count-bounded sorted list — control-plane. */
  private case class CusumStep(chunk: Int, n_docs: Long, mean_q: Long,
                               s_pos: Long, s_neg: Long)
  private[graft] val cusumWalkUdf =
    udf { (rows: Seq[org.apache.spark.sql.Row], muQ: Long, kQ: Long) =>
      var sp = 0L; var sn = 0L
      rows.map { r =>
        val meanQ = r.getLong(2)
        sp = math.max(0L, sp + meanQ - muQ - kQ)
        sn = math.max(0L, sn - (meanQ - muQ) - kQ)
        CusumStep(r.getInt(0), r.getLong(1), meanQ, sp, sn)
      }
    }

  def cusumDrift(spark: SparkSession, dir: String, chunks: Int = 64): DataFrame = {
    val scored = docs(spark, dir)
      .select(col("doc_id"), classifierScoreUdf(tokensCol(col("text"))).as("score"))
    val mx = scored.agg(expr(s"max(doc_id) div $chunks + 1").cast("long").as("width"))
    val ch = scored.crossJoin(broadcast(mx))
      .withColumn("chunk", expr("doc_id div width").cast("int"))
      .groupBy("chunk")
      .agg(count(lit(1)).as("n_docs"), sum(col("score")).as("s"))
      .withColumn("mean_q", expr("(s * 1048576) div n_docs"))
    val glob = ch.agg(
      expr("(sum(s) * 1048576) div sum(n_docs)").as("mu_q"),
      count(lit(1)).as("n_chunks"))
    val withK = ch.crossJoin(broadcast(glob))
      .withColumn("adev", abs(col("mean_q") - col("mu_q")))
    val kFrame = withK.agg(
      expr("sum(adev) div (2 * max(n_chunks))").as("k_q"),
      max(col("mu_q")).as("mu_q"))
    withK.select("chunk", "n_docs", "mean_q")
      .crossJoin(broadcast(kFrame))
      .groupBy("mu_q", "k_q")
      .agg(sort_array(collect_list(struct(col("chunk"), col("n_docs"),
        col("mean_q")))).as("rows"))
      // O(n) Scala walk (the Relational q152/q166 discipline — the previous
      // `aggregate`+`array_append` fold copied the output array per element,
      // O(n²) in the chunk count; same integers, bit-identical output)
      .select(col("mu_q"), col("k_q"),
        explode(cusumWalkUdf(col("rows"), col("mu_q"), col("k_q"))).as("e"))
      .select(col("e.chunk").as("chunk"), col("e.n_docs").as("n_docs"),
        col("e.mean_q").as("mean_q"), col("mu_q"), col("k_q"),
        col("e.s_pos").as("s_pos"), col("e.s_neg").as("s_neg"),
        (col("e.s_pos") > lit(4L) * col("k_q") ||
          col("e.s_neg") > lit(4L) * col("k_q")).as("alarm"))
  }

  /** UNSEEN-VOCABULARY ESTIMATE / CHAO1 (q191) — [Chao 1984; Good–Turing
    * 1953 is the same frequency-of-frequencies idea]: per source, estimate
    * the vocabulary NOT yet observed from the hapax/dis legomena counts —
    * V̂ = V + n₁²/(2·n₂) (bias-corrected n₁(n₁−1)/(2(n₂+1)) when n₂ = 0).
    * The prediction companion of q186's observed growth curve: q186 says
    * how fast new vocabulary arrived, Chao1 says how much is left — "is
    * this source worth crawling deeper" with an estimator instead of an
    * extrapolated eyeball.
    *
    * Exact integers: V, n₁, n₂ from ONE frequency-of-frequencies pass
    * (type totals per source → count of totals = 1 / = 2); the estimate is
    * one integral division, 2²⁰-scaled coverage = V·2²⁰ div V̂ alongside
    * (Good–Turing sample coverage 1 − n₁/tokens rides as cov_gt_q). The
    * type unit is the 3-gram SHINGLE (the q186/q187 vocabulary): the
    * synthetic unigram space is 31 fully-saturated types with zero
    * hapaxes — Chao1 over it would estimate nothing. */
  def chao1Vocab(spark: SparkSession, dir: String): DataFrame =
    chao1From(docs(spark, dir)
      .select(col("source"), explode(gramCountsUdf(3)(col("text"))))
      .select(col("source"), col("key").as("term"), col("value").cast("long").as("tf"))
      .groupBy("source", "term").agg(sum(col("tf")).as("ct")))

  /** The [[chao1Vocab]] estimator from a (source, term, ct) COUNT-TABLE
    * frame — per-(source, term) totals are scalar-additive cells (the LM
    * count-table store class), so the streaming maintainer
    * ([[graft.streaming.MixtureStream.applyChao1Batch]]) keeps them under
    * the shared epoch gate and this read walk makes maintained ≡ batch
    * definitional. n₁/n₂ (hapax/dis counts) are read-time rollups — a term
    * crossing ct 1→2 as batches absorb moves between them correctly
    * because the rollup sees current totals, never frozen frequency-of-
    * frequencies (which would NOT be additive). */
  def chao1From(tf: DataFrame): DataFrame = {
    tf.groupBy("source").agg(
        count(lit(1)).as("v_obs"),
        sum(col("ct")).as("tokens"),
        sum(when(col("ct") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("ct") === 2, 1L).otherwise(0L)).as("n2"))
      .withColumn("chao1_extra", expr(
        """CASE WHEN n2 > 0 THEN (n1 * n1) div (2 * n2)
          |     ELSE (n1 * (n1 - 1)) div (2 * (n2 + 1)) END""".stripMargin))
      .withColumn("v_hat", col("v_obs") + col("chao1_extra"))
      .withColumn("coverage_q", expr("(v_obs * 1048576) div v_hat"))
      .withColumn("cov_gt_q", expr("((tokens - n1) * 1048576) div tokens"))
  }

  /** TOKENIZER-VOCABULARY COVERAGE CURVE (q198) — the vocab-size decision
    * table [Zipf's law; the coverage criterion SentencePiece/BPE users tune
    * V against, cf. Kudo 2018 §4]: for each candidate inventory size V, the
    * corpus token mass covered by the V most frequent type units, the OOV
    * rate left over (parts per million, integral), and the frequency
    * threshold where the cut lands. q191 (Chao1) answers "how much
    * vocabulary is left to SEE"; this answers "how much vocabulary is worth
    * KEEPING" — the two ends of the tokenizer-inventory decision. Type unit
    * = the 3-gram shingle (the q186/q187/q191 vocabulary — the synthetic
    * unigram space is 31 saturated types and would make every V total).
    *
    * Scale shape — NO global sort of the vocabulary: coverage is
    * tie-invariant (every term at the cut frequency contributes the same
    * mass, so WHICH tied terms make the cut cannot change the curve), which
    * lets the whole table read off the frequency-of-frequencies frame
    * F = (ct, n_terms). |F| ≤ ⌈√(2·total_tokens)⌉ for ANY corpus (distinct
    * counts are distinct positive integers: total ≥ 1+2+…+|F| = |F|(|F|+1)/2),
    * so the one ordered suffix-sum walk over F is bounded control plane
    * (≤ 1.5 M rows even at 10¹² tokens) — where the textbook rank window
    * over the term table itself would sort the full 10⁸+-type vocabulary
    * onto one reducer. The oracle deliberately IS that textbook window
    * (rank terms, sum the top V): tie-invariance makes the two
    * constructions provably equal, so the gate checks the theorem, not a
    * replay. */
  /** The default q198 candidate vocab sizes — ONE definition for the batch
    * operator, the windowed spec reference, and the maintained read path
    * (the q198 oracle SQL hard-codes the same list; editing this without
    * the oracle desyncs the gate LOUDLY, which is the point). */
  val VocabSizes: Seq[Int] = Seq(256, 1024, 4096, 16384)

  def vocabCoverage(spark: SparkSession, dir: String,
                    sizes: Seq[Int] = VocabSizes): DataFrame =
    vocabCoverageFrom(
      docs(spark, dir)
        .select(explode(gramCountsUdf(3)(col("text"))))
        .select(col("key").as("term"), col("value").cast("long").as("tf"))
        .groupBy("term").agg(sum(col("tf")).as("ct")),
      sizes)

  /** The [[vocabCoverage]] curve from a (term, ct) COUNT-TABLE frame — the
    * same additive sufficient statistic as [[chao1From]], so the q191
    * maintained store summed over sources feeds this read path
    * ([[graft.streaming.MixtureStream.readVocabCoverage]]) with no new
    * store and no corpus re-scan. */
  def vocabCoverageFrom(tc: DataFrame,
                        sizes: Seq[Int] = VocabSizes): DataFrame = {
    val f = tc.groupBy(col("ct")).agg(count(lit(1)).as("n_terms"))
      .withColumn("mass", col("ct") * col("n_terms"))
    // suffix sums EXCLUSIVE of the current row, walking frequencies DESC —
    // the single-task window is safe by the |F| ≤ √(2N) bound above
    val W = org.apache.spark.sql.expressions.Window
    val w = W.orderBy(col("ct").desc).rowsBetween(W.unboundedPreceding, -1)
    val walk = f
      .withColumn("terms_above", coalesce(sum(col("n_terms")).over(w), lit(0L)))
      .withColumn("mass_above", coalesce(sum(col("mass")).over(w), lit(0L)))
    val totals = f.agg(sum(col("mass")).as("total_tokens"),
      sum(col("n_terms")).as("v_obs"))
    val vs = tc.sparkSession.range(1)
      .select(explode(array(sizes.map(s => lit(s.toLong)): _*)).as("v"))
    // crossing row per V = the max-terms_above row still strictly below V
    // (terms_above strictly increases walking DESC, so max_by is tie-free);
    // covered = full rows above the cut + the partial tie group at it —
    // `least` also absorbs V ≥ |vocab| (covered saturates at total)
    walk.join(broadcast(vs), col("terms_above") < col("v"))
      .groupBy("v")
      .agg(max_by(
        struct(col("ct"), col("n_terms"), col("terms_above"), col("mass_above")),
        col("terms_above")).as("k"))
      .crossJoin(broadcast(totals))
      .select(
        col("v"),
        col("k.ct").as("threshold_ct"),
        (col("k.mass_above") +
          least(col("k.n_terms"), col("v") - col("k.terms_above")) * col("k.ct"))
          .as("covered_tokens"),
        col("total_tokens"), col("v_obs"))
      .withColumn("oov_ppm",
        expr("((total_tokens - covered_tokens) * 1000000) div total_tokens"))
  }

  /** The textbook rank-window form of [[vocabCoverage]] — kept ONLY as the
    * spec reference for the tie-invariance equality gate (TextOpsSpec);
    * never call it on real data (it sorts the whole vocabulary on one
    * reducer — exactly what the F-walk exists to avoid). */
  private[graft] def vocabCoverageWindowed(spark: SparkSession, dir: String,
                                           sizes: Seq[Int] = VocabSizes): DataFrame = {
    val tc = docs(spark, dir)
      .select(explode(gramCountsUdf(3)(col("text"))))
      .select(col("key").as("term"), col("value").cast("long").as("tf"))
      .groupBy("term").agg(sum(col("tf")).as("ct"))
    val W = org.apache.spark.sql.expressions.Window
    val r = tc.withColumn("rn",
      row_number().over(W.orderBy(col("ct").desc, col("term"))))
    val totals = tc.agg(sum(col("ct")).as("total_tokens"),
      count(lit(1)).as("v_obs"))
    val vs = spark.range(1)
      .select(explode(array(sizes.map(s => lit(s.toLong)): _*)).as("v"))
    r.join(broadcast(vs), col("rn") <= col("v"))
      .groupBy("v")
      .agg(min(col("ct")).as("threshold_ct"),
        sum(col("ct")).as("covered_tokens"))
      .crossJoin(broadcast(totals))
      .withColumn("oov_ppm",
        expr("((total_tokens - covered_tokens) * 1000000) div total_tokens"))
      .select("v", "threshold_ct", "covered_tokens", "total_tokens", "v_obs", "oov_ppm")
  }

  /** CONTEXT-LENGTH PACKING PLANNER (q192) — the capacity table behind the
    * q68/q167 packing choice [GPT-3 §2.2 concat-and-chunk vs pad-per-doc;
    * Krell et al. 2021 on packing efficiency]: for each candidate context
    * length L, what one epoch costs under (a) PAD-PER-DOC with truncation —
    * bins = docs, waste = Σ(L − min(len, L)), truncated = Σ max(len − L, 0)
    * — versus (b) CONCAT-AND-PACK — bins = ⌈Σlen/L⌉, waste < L total. The
    * efficiency column (real tokens per slot, 2²⁰-scaled) is the number a
    * training-infra owner reads before picking L; the truncation column is
    * what the pad path silently destroys.
    *
    * Scale shape: ONE map pass to per-doc token counts, the L axis
    * exploded map-side (|Ls| integers per row), one |Ls|-key partial agg —
    * no shuffle of anything corpus-shaped. All integers. */
  def packingPlan(spark: SparkSession, dir: String,
                  lengths: Seq[Int] = Seq(128, 512, 2048)): DataFrame =
    packingFromLens(
      docs(spark, dir)
        .select(size(tokensCol(col("text"))).cast("long").as("len"))
        .groupBy("len").agg(count(lit(1)).as("n")),
      lengths)

  /** The [[packingPlan]] capacity table from a (len, n) LENGTH-HISTOGRAM
    * frame — every output column is linear in the per-length doc count
    * (Σ f(len) = Σ_len f(len)·n), so the histogram is the additive
    * sufficient statistic the streaming maintainer keeps
    * ([[graft.streaming.MixtureStream.applyPackingBatch]]) and this walk
    * makes maintained ≡ batch definitional. */
  def packingFromLens(lens: DataFrame,
                      lengths: Seq[Int] = Seq(128, 512, 2048)): DataFrame = {
    lens
      .select(col("len"), col("n"),
        explode(array(lengths.map(l => lit(l.toLong)): _*)).as("l"))
      .groupBy("l")
      .agg(sum(col("n")).as("n_docs"),
        sum(col("len") * col("n")).as("total_tokens"),
        sum(least(col("len"), col("l")) * col("n")).as("kept_tokens"),
        sum(greatest(col("len") - col("l"), lit(0L)) * col("n")).as("truncated_tokens"),
        sum((col("l") - least(col("len"), col("l"))) * col("n")).as("pad_waste"))
      .withColumn("pad_bins", col("n_docs"))
      .withColumn("pack_bins", expr("(total_tokens + l - 1) div l"))
      .withColumn("pad_efficiency_q", expr("(kept_tokens * 1048576) div (n_docs * l)"))
      .withColumn("pack_efficiency_q",
        expr("(total_tokens * 1048576) div (((total_tokens + l - 1) div l) * l)"))
  }

  /** TWO-SAMPLE KS DISTANCE MATRIX (q194) — [Kolmogorov 1933; Smirnov
    * 1939]: the max-CDF-gap distance between every source pair's quality-
    * score DISTRIBUTIONS — the SHAPE-drift companion of q193's mean-only
    * centroid drift (two sources can share a mean and still have one
    * bimodal, one tight; KS sees it, MMD-with-linear-kernel doesn't) and
    * of q185's per-doc outliers. The "are these sources exchangeable for
    * mixing purposes" screen.
    *
    * Scale discipline: KS is computed on a FIXED 256-bucket grid (the q141
    * fixed-width binning off a broadcast (min, max) frame — never ntile's
    * global sort, never a per-source window over raw rows), so everything
    * after the one (source, bucket) partial agg is bounded: cumulative
    * CDFs are windows over ≤ 256-row partitions of the DENSE exploded
    * grid, and the pair max runs over K(K−1)/2 × 256 control-plane rows.
    * Bucketized KS lower-bounds the true statistic with resolution = one
    * grid cell of the score range (the documented trade; exact enough for
    * mixing triage, and the grid sharpens by raising `bins`).
    *
    * Exact integers: the gap is |cumA·nB − cumB·nA| (cross-multiplied), so
    * ks_q = 2²⁰·maxGap div (nA·nB) hash-compares with no float CDFs. */
  def ksMatrix(spark: SparkSession, dir: String, bins: Int = 256): DataFrame =
    ksMatrixFromHist(
      docs(spark, dir)
        .select(col("source"), classifierScoreUdf(tokensCol(col("text"))).as("score"))
        .groupBy("source", "score").agg(count(lit(1)).as("ct")),
      bins)

  /** The [[ksMatrix]] walk from a (source, score, ct) HISTOGRAM — the
    * sufficient statistic the streaming maintainer keeps
    * ([[graft.streaming.MixtureStream.applyKsBatch]]): score counts are
    * scalar-additive cells, and the data-dependent parts of the report —
    * the (lo, hi) bounds AND the bucket assignment — are recomputed at
    * read time from the histogram, so absorbing a batch that widens the
    * score range re-bins old mass correctly (bucket counts themselves are
    * NOT additive under drifting bounds; score-level counts are). The
    * grid/CDF/pair stages run on the control-plane (source × bins) frame
    * exactly as before; binning the histogram instead of raw rows is the
    * same arithmetic (b is a function of score; counts sum). */
  def ksMatrixFromHist(hist: DataFrame, bins: Int = 256): DataFrame = {
    val Window = org.apache.spark.sql.expressions.Window
    val spark = hist.sparkSession
    val bounds = hist.agg(min(col("score")).as("lo"), max(col("score")).as("hi"))
    val binned = hist.crossJoin(broadcast(bounds))
      .withColumn("b",
        when(col("hi") === col("lo"), lit(0L)).otherwise(
          floor((col("score") - col("lo")) * bins / (col("hi") - col("lo") + 1)))
          .cast("long"))
      .groupBy("source", "b").agg(sum(col("ct")).as("ct"))
    val grid = binned.select("source").distinct()
      .crossJoin(spark.range(bins).select(col("id").as("b")))
    val cdf = grid.join(binned, Seq("source", "b"), "left")
      .withColumn("ct", coalesce(col("ct"), lit(0L)))
      .withColumn("cum", sum(col("ct"))
        .over(Window.partitionBy("source").orderBy("b")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val n = binned.groupBy("source").agg(sum(col("ct")).as("n"))
    val a = cdf.join(n, Seq("source"))
      .select(col("source").as("src_a"), col("b"), col("cum").as("ca"), col("n").as("n_a"))
    val b = cdf.join(n, Seq("source"))
      .select(col("source").as("src_b"), col("b"), col("cum").as("cb"), col("n").as("n_b"))
    a.join(b, Seq("b")).filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b", "n_a", "n_b")
      .agg(max(abs(col("ca") * col("n_b") - col("cb") * col("n_a"))).as("max_gap"))
      .withColumn("ks_q", expr("(max_gap * 1048576) div (n_a * n_b)"))
  }

  /** SOURCE ABLATION REPORT (q195) — leave-one-source-out deltas, the
    * report a mixing decision actually reads (the evaluation half of
    * q181's greedy selection, and the "what do we lose" answer where q187
    * only says "how much overlaps"): per source, its token share, the
    * vocabulary ONLY it carries (shingles with source-df = 1 — lost
    * outright if dropped), and how the corpus mean quality score moves
    * without it (a positive delta = dropping it RAISES mean quality — the
    * cut candidate; negative = it props quality up).
    *
    * Exact integers: unique-vocab counts from one (shingle → distinct
    * sources) aggregate (count-distinct on the SOURCE domain — bounded per
    * shingle); the quality delta is the exact rational
    * (ΣS−s_i)/(N−n_i) − ΣS/N put over the common denominator and
    * 2²⁰-quantized in decimal(38,0). One scan per input grain, then
    * everything lives on the K-row source frame. */
  def sourceAblation(spark: SparkSession, dir: String): DataFrame =
    ablationFrom(
      docs(spark, dir)
        .select(col("source"), size(tokensCol(col("text"))).cast("long").as("n_toks"),
          classifierScoreUdf(tokensCol(col("text"))).as("score"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("tokens"),
          sum(col("score")).as("s")),
      docs(spark, dir)
        .select(col("source"), explode(distinctShinglesUdf(3)(col("text"))).as("sh"))
        .distinct())

  /** The [[sourceAblation]] walk from its two sufficient statistics — the
    * per-source scalar sums (source, n_docs, tokens, s) and the distinct
    * (source, sh) 3-shingle cells. The scalars are an additive EpochStore
    * row per source; the cells are the SAME first-seen (source, shingle)
    * store q181/q182/q187 already maintain
    * ([[graft.streaming.MixtureStream]]) — q195 is a FOURTH report off
    * that one store plus a K-row scalar frame, with no corpus re-scan at
    * decision time. Unique vocabulary (shingles with source-df = 1) is a
    * read-time rollup of the cells: first-seen set union makes it exact
    * over everything absorbed. */
  def ablationFrom(scored: DataFrame, cells: DataFrame): DataFrame = {
    val uniq = cells
      .groupBy("sh").agg(countDistinct(col("source")).as("nsrc"),
        max(col("source")).as("only_src"))
      .filter(col("nsrc") === 1)
      .groupBy(col("only_src").as("source"))
      .agg(count(lit(1)).as("unique_vocab"))
    val tot = scored.agg(sum(col("n_docs")).as("tn"), sum(col("tokens")).as("tt"),
      sum(col("s")).as("ts"))
    scored.join(uniq, Seq("source"), "left")
      .withColumn("unique_vocab", coalesce(col("unique_vocab"), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("token_share_q", expr("(tokens * 1048576) div tt"))
      // Δmean·2²⁰ = 2²⁰·((ts−s)·tn − ts·(tn−n_docs)) div (tn·(tn−n_docs))
      .withColumn("dmean_q",
        expr("""cast((1048576 * (cast(ts - s as decimal(38,0)) * tn
          | - cast(ts as decimal(38,0)) * (tn - n_docs)))
          | div (cast(tn as decimal(38,0)) * (tn - n_docs)) as bigint)""".stripMargin))
      .select(col("source"), col("n_docs"), col("tokens"), col("token_share_q"),
        col("unique_vocab"), col("dmean_q"),
        (col("dmean_q") > 0).as("cut_candidate"))
  }

  /** BM25 ranked retrieval over the corpus for a fixed query set — the
    * retrieval loop a training-data pipeline runs for RAG corpus QA and
    * recall checks. Standard BM25 shape (k1 = 1.2, b = 0.75) with two
    * documented cross-engine-exactness divergences:
    *  - idf is the RAW Robertson ratio (N−df+0.5)/(df+0.5) instead of
    *    Lucene's ln(1 + ratio) — monotone per term (so single-term ranking
    *    is identical) and computed as ONE double division of exact integers,
    *    because ln's last ulp differs between libm implementations and would
    *    break the oracle hash. TextOpsSpec gates multi-term agreement vs a
    *    driver-computed ln(1+ratio) reference (10/10 top-10 on the fixture);
    *  - per-term scores are floor(x·2²⁰)-quantized to longs before the
    *    cross-term sum, so the addition is commutative integer math with no
    *    float accumulation order — the q28/q33 trick.
    * Plan shape: the corpus token scan keeps ONLY query terms before any
    * shuffle; tf/df/stats and the query set are tiny and broadcast; the
    * per-(query, doc) agg + top-k window shuffle only matched docs. At
    * 100 TB this is one corpus scan + small-side broadcasts — no inverted
    * index needed for a bounded query set (the index path is q64). */
  def bm25Search(spark: SparkSession, dir: String, topK: Int = 10): DataFrame = {
    val queryTerms = Seq(
      "q1" -> "spark", "q1" -> "join",
      "q2" -> "table", "q2" -> "scan",
      "q3" -> "window", "q3" -> "agg")
    val qt = spark.createDataFrame(queryTerms).toDF("query", "term")
    val terms = queryTerms.map(_._2).distinct
    // SHAPE NOTE (r17, measured and kept AS-IS): the plan carries four
    // corpus tokenize passes (tf + its dft re-reference + dl + stats) and
    // a doc-grain dl join. Three fused shapes were A/B'd at sf0.1 —
    // (a) one explode_outer over an interpreted filter() lambda + cached
    // doc-grain counts: 1.71 s; (b) dl riding the tf explode + persist:
    // 1.25 s; (c) same without persist: 1.65 s — vs 1.17 s for this
    // four-pass shape under identical load. The tokenize is a cheap
    // codegen'd regexp per doc and the dl join is a doc-sized hash join;
    // the fused shapes trade them for interpreted HOFs or a wider
    // partial-agg grain and lose. The q205 lesson again: measure before
    // caching/fusing what a scan re-derives cheaply.
    val d = docs(spark, dir).withColumn("toks", tokensCol(col("text")))
    val dl = d.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("tot"))
    val tf = d.select(col("doc_id"), explode(col("toks")).as("term"))
      .filter(col("term").isInCollection(terms))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = (lit(2) * (col("n") - col("df")) + lit(1)).cast("double") /
      (lit(2) * col("df") + lit(1)).cast("double")
    val avgdl = col("tot").cast("double") / col("n")
    val tfPart = (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / avgdl)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query").orderBy(col("score_q").desc, col("doc_id"))
    tf.join(broadcast(qt), "term")
      .join(broadcast(dft), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("cs", floor(idf * tfPart * lit(1048576)).cast("long"))
      .groupBy("query", "doc_id").agg(sum(col("cs")).as("score_q"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("query"), col("doc_id"), col("score_q"), col("rnk"))
  }

  /** Per-source quota by quality (the per-domain cap of Common-Crawl-derived
    * corpora — no single domain may dominate the mix): rank each source's
    * docs quality-first — accept-band docs (30–400 tokens, stop_ratio ≤ 0.5,
    * the [[qualityScore]] band) ahead of the rest, longer first, id tiebreak
    * — and keep the top `cap`. One shuffle on source + a per-group window.
    *
    * Window vs topK: the window shuffles and sorts EVERY row of a source
    * onto one reducer, and a corpus has few, huge sources. The k-bounded
    * [[graft.functions.Aggregators.topK]] partial agg (the q14 machinery)
    * gives the same rows with O(sources·cap·mappers) shuffled instead of
    * O(rows) sorted. Measured at sf0.1 (round 7, NOTES_r7.md §3 and PLANS.md
    * round-7 section): window 0.199 s vs topK 0.257 s — the window wins by
    * ~30% while every source fits one reducer, because the UDAF's kryo
    * buffer costs more than the sort saves. The crossover is where a single
    * source outgrows one reducer's sort (spill territory); past it, encode
    * the (good DESC, token_ct DESC, doc_id ASC) order as topK's
    * (v DESC, id ASC) with v = good·2³² + token_ct. */
  def sourceQuota(spark: SparkSession, dir: String, cap: Int = 15): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source")
      .orderBy(col("good").desc, col("token_ct").desc, col("doc_id"))
    docs(spark, dir)
      .withColumn("toks", tokensCol(col("text")))
      .withColumn("token_ct", size(col("toks")))
      .withColumn("good",
        col("token_ct").between(30, 400) && stopwordRatioFromToks(col("toks")) <= lit(0.5))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= cap)
      .select(col("doc_id"), col("source"), col("token_ct").cast("long").as("token_ct"),
        col("rnk"))
  }

  /** Token-budget mixture sampling (Pile/DoReMi-style data mixing): every
    * source gets the same token budget; docs are drawn in md5(doc_id)-rank
    * order (the engine/run/layout-stable draw of [[hashSample]] /
    * [[balancedSample]]) until the cumulative token count passes the budget.
    *
    * Scale shape (round-7 de-skew): a corpus has FEW, HUGE sources — one
    * Common-Crawl source is billions of rows, so an exact per-source cumsum
    * window would sort an entire source on one reducer while the budget
    * keeps only a sliver of it. The draw order is a HASH rank, so the
    * prefix of the order IS a hash-threshold set: keep rows whose 32-bit
    * hash prefix `u = h[0:8]/2^32` falls under a per-source fraction sized
    * from avg tokens/doc with a `safety` factor, and run the exact cumsum
    * window only over that sliver. The survivor set is an exact prefix of
    * the (h, doc_id) order (u is monotone in h), so the cumsum over
    * survivors equals the full cumsum on those rows — EXACT, not
    * approximate, whenever the budget boundary lands inside the prefix.
    * That sufficiency is CHECKED per source (survivor tokens must exceed
    * the budget unless the whole source survived) and the fraction doubles
    * until it holds, so undershoot costs one cheap extra pass, never a
    * wrong answer. Row-for-row equality with the windowed form is
    * spec-gated (TextOpsSpec); the stats/check collects are per-source —
    * bounded control-plane, like the quantizer samples. Cost at fixture
    * scale (sf0.1, PLANS.md round-7 section): 0.275 s vs the windowed
    * form's 0.190 s — the stats+check passes cost ~85 ms where every source fits one
    * reducer anyway; at a billion-row source the windowed form sorts the
    * whole source on one task and this form windows a few thousand rows.
    *
    * Cache lifecycle: the projected base frame stays persisted because the
    * RETURNED plan still reads it (unpersisting here would re-tokenize the
    * corpus at evaluation). Bench/Verify clear caches between queries; a
    * long-lived session should `spark.catalog.clearCache()` (or unpersist)
    * after consuming the result — same contract as [[balancedSample]] and
    * the persisted boundaries in cleanCorpus/spanDedup. */
  def mixtureSample(spark: SparkSession, dir: String, budgetTokens: Long = 1000,
                    safety: Double = 4.0): DataFrame =
    mixtureSampleFrom(docs(spark, dir), budgetTokens, safety)

  /** Frame form of [[mixtureSample]]: `d` needs (source, doc_id, text). */
  def mixtureSampleFrom(d: DataFrame, budgetTokens: Long = 1000,
                        safety: Double = 4.0): DataFrame = {
    val spark = d.sparkSession
    val base = d
      .withColumn("h", md5(col("doc_id").cast("string").cast("binary")))
      .withColumn("n_tokens", bpeTokenCountCol(col("text")).cast("long"))
      .withColumn("u",
        conv(substring(col("h"), 1, 8), 16, 10).cast("long") / lit(4294967296.0))
      .select(col("source"), col("doc_id"), col("h"), col("u"), col("n_tokens"))
      .persist()
    val sess = spark
    import sess.implicits._
    def survivors(frac: Map[String, Double]): DataFrame =
      base.join(broadcast(frac.toSeq.toDF("source", "frac")), "source")
        .filter(col("u") < col("frac"))
    var frac: Map[String, Double] = base.groupBy("source")
      .agg(count(lit(1)).as("n"), sum(col("n_tokens")).as("tok")).collect()
      .map { r =>
        val n = math.max(r.getLong(1), 1L)
        val avg = math.max(1.0, r.getLong(2).toDouble / n)
        r.getString(0) -> math.min(1.0, safety * budgetTokens / avg / n)
      }.toMap
    var sufficient = false
    while (!sufficient) {
      val survTok = survivors(frac).groupBy("source")
        .agg(sum(col("n_tokens")).as("stok")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val under = frac.keySet.filter(s =>
        frac(s) < 1.0 && survTok.getOrElse(s, 0L) <= budgetTokens)
      if (under.isEmpty) sufficient = true
      else frac = frac.map { case (s, f) =>
        s -> (if (under(s)) math.min(1.0, f * 2) else f)
      }
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("h"), col("doc_id"))
    survivors(frac)
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .filter(col("cum") <= budgetTokens)
      .groupBy("source")
      .agg(count(lit(1)).as("kept_docs"), sum(col("n_tokens")).as("kept_tokens"))
  }

  /** The unfiltered windowed form [[mixtureSample]] replaced — spec
    * reference ONLY (exact per-source cumsum over the WHOLE source: the
    * hot-source one-reducer sort the pre-filter exists to avoid). */
  private[graft] def mixtureSampleWindowed(spark: SparkSession, dir: String,
                                           budgetTokens: Long = 1000): DataFrame =
    mixtureSampleWindowedFrom(docs(spark, dir), budgetTokens)

  private[graft] def mixtureSampleWindowedFrom(d: DataFrame,
                                               budgetTokens: Long = 1000): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("h"), col("doc_id"))
    d
      .withColumn("h", md5(col("doc_id").cast("string").cast("binary")))
      .withColumn("n_tokens", bpeTokenCountCol(col("text")).cast("long"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .filter(col("cum") <= budgetTokens)
      .groupBy("source")
      .agg(count(lit(1)).as("kept_docs"), sum(col("n_tokens")).as("kept_tokens"))
  }

  /** EPOCH/SHARD TRAINING PLAN (q121) — materialize the "data recipe": each
    * document appears `w(source)` times in expectation across the training
    * run (fractional weights resolved per doc by a deterministic hash coin,
    * so both up- AND down-sampling fall out of one rule), and every copy is
    * assigned a shard by an independent hash — the deterministic
    * repetition-and-placement step between curation (q73/q100 choose
    * weights) and training (shards are the unit a loader pulls).
    *
    * Plan shape: MAP-ONLY — weight lookup, repeat count, `explode(sequence)`
    * and both hashes are all per-row; NO shuffle anywhere, so the plan is a
    * single scan→write pipeline at any scale (the shard column is what a
    * partitioned write would key on). Integer-exact milli-weights and
    * md5-prefix coins replay bit-identically in SQL.
    *
    * Weights here derive from the source id (`0.5 + (n mod 7)·0.35` ∈
    * [0.5, 2.6]) so the oracle needs no side-channel config; a production
    * run would broadcast a real weight map the same way. */
  def epochPlan(spark: SparkSession, dir: String, shards: Int = 16): DataFrame =
    docs(spark, dir).select(col("doc_id"), col("source"))
      .withColumn("__wm", // milli-weight, exact integer
        lit(500L) + (regexp_extract(col("source"), "(\\d+)$", 1).cast("long") % 7) * 350L)
      .withColumn("__h", // 32-bit hash coin for the fractional part
        conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 8), 16, 10)
          .cast("long"))
      .withColumn("__copies",
        floor(col("__wm") / 1000L).cast("long") +
          // h/2^32 < frac(w) ⟺ h·1000 < (wm mod 1000)·2^32 — exact in longs
          when(col("__h") * 1000L < (col("__wm") % 1000L) * 4294967296L, 1L)
            .otherwise(0L))
      .filter(col("__copies") > 0)
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(1), col("__copies").cast("int"))).as("copy_idx"))
      .withColumn("shard",
        pmod(conv(substring(md5(concat_ws("_", col("doc_id"), col("copy_idx"))
          .cast("binary")), 1, 8), 16, 10).cast("long"), lit(shards.toLong))
          .cast("int"))

  /** PRIORITY SAMPLING (q173) — the WEIGHTED generalization of q164's quota
    * sample [Duffield, Lund & Thorup, "Priority sampling", JACM 2007]:
    * draw k documents with probability proportional to weight (here
    * `n_chars` — in production a quality or importance score, the q101
    * DSIR shape), and get an UNBIASED Horvitz–Thompson estimate of any
    * subset-sum from just the sample. Each doc gets priority w/u with u a
    * deterministic md5 uniform; the k highest priorities are the sample,
    * the (k+1)-th is the threshold τ, and every kept doc's estimator
    * weight is max(w, τ) — E[Σ max(w,τ)] is exactly Σw.
    *
    * Scale shape is the q164 one: the k-bounded [[graft.functions.Aggregators.topK]]
    * partial agg — every mapper forwards ≤ k+1 rows, no global sort, no
    * window (the oracle runs the row_number construction this avoids).
    * Determinism: priority = w·2⁵²/h is one exactly-rounded double
    * division (ties broken by doc_id); estimator weights and the estimate
    * quantize to 2²⁰ longs, so the total is an order-free integer sum and
    * the ±35% sanity flag is an exact integer comparison (the q148
    * discipline — the spec owns the accuracy claim, the flag just has to
    * replay). */
  def prioritySample(spark: SparkSession, dir: String, k: Int = 64): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"),
      greatest(col("n_chars"), lit(1L)).as("w"))
      .withColumn("h", greatest(lit(1L),
        conv(substring(md5(concat(lit("prio_"),
          col("doc_id").cast("string")).cast("binary")), 1, 13), 16, 10).cast("long")))
      .withColumn("priority",
        // w must reach double BEFORE the 2^52 scale-up: w·2^52 in long
        // silently wraps once w >= 2048 (routine document lengths), while
        // double·2^52 is an exact power-of-two rescale for any w < 2^53.
        col("w").cast("double") * lit(4503599627370496.0) / col("h").cast("double"))
    val top = d.agg(
      graft.functions.Aggregators.topK(k + 1, col("priority"), col("doc_id"), col("w"))
        .as("top"),
      sum(col("w")).as("exact_total"))
      .withColumn("tau20",
        when(size(col("top")) > k,
          floor(element_at(col("top"), k + 1).getField("v") * 1048576L).cast("long"))
          .otherwise(0L))
      .withColumn("kept", slice(col("top"), 1, k))
      .withColumn("est20", expr(
        "aggregate(kept, 0L, (acc, e) -> acc + greatest(e.p * 1048576L, tau20))"))
    top.select(col("exact_total"), col("tau20"), col("est20"),
      posexplode(col("kept")).as(Seq("pos", "e")))
      .select(
        (col("pos") + 1).cast("int").as("r"),
        col("e.id").as("doc_id"),
        col("e.p").as("w"),
        col("e.v").as("priority"),
        (greatest(col("e.p") * 1048576L, col("tau20")).cast("double") / 1048576L)
          .as("w_hat"),
        (col("est20").cast("double") / 1048576L).as("est_total"),
        col("exact_total"),
        (abs(col("est20") - col("exact_total") * 1048576L) * 20L
          <= col("exact_total") * 1048576L * 7L).as("est_ok"))
  }

  /** POSITIONAL INVERTED INDEX (q171) — the full postings layer under
    * q81's BM25 and q60's tf-idf, and the structural upgrade of q64's
    * truncated term dictionary: for every term, the documents containing
    * it with their term frequency and 0-based token POSITIONS (what phrase
    * and proximity queries need), plus per-group document/collection
    * frequency. [Zobel & Moffat, "Inverted files for text search engines",
    * CSUR 2006 — the standard index organization.]
    *
    * The scale problem is the hot term: at web scale a stopword's posting
    * list has hundreds of millions of entries, so "one row per term with an
    * array" is a guaranteed OOM and any per-term ordering window is the
    * pinned-reducer skew bug (the q69/cleanCorpus lesson). Postings are
    * therefore CHUNKED BY DOC-ID RANGE: `chunk = doc_id div chunkDocs` is
    * map-side arithmetic (no window, no rank), every (term, chunk) group is
    * bounded by `chunkDocs` entries regardless of term popularity, and
    * doc-ordered chunks are exactly what top-k retrieval wants to scan
    * (doc-at-a-time traversal; a chunk is also the natural unit for the
    * skip pointers real indexes keep). Within a (term, doc) group the
    * position list is bounded by the document's own length — row-local
    * after one `posexplode`.
    *
    * Postings serialize as `doc:tf:p1.p2.p3|...` strings — deterministic,
    * and both engines build the identical bytes (the nested
    * array-of-struct-of-array alternative does not hash-compare across
    * engines). */
  def positionalIndex(spark: SparkSession, dir: String, chunkDocs: Int = 256): DataFrame =
    positionalIndexFrom(docs(spark, dir), chunkDocs)

  /** Frame form of [[positionalIndex]]: `d` needs (doc_id, text). */
  def positionalIndexFrom(d: DataFrame, chunkDocs: Int = 256): DataFrame = {
    val perDoc = d
      .select(col("doc_id"), posexplode(tokensCol(col("text"))).as(Seq("pos", "term")))
      .groupBy("term", "doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("positions"))
      .withColumn("tf", size(col("positions")).cast("long"))
      .withColumn("entry", concat(col("doc_id"), lit(":"), col("tf"), lit(":"),
        array_join(col("positions"), ".")))
    perDoc
      .withColumn("chunk", expr(s"doc_id div $chunkDocs"))
      .groupBy("term", "chunk")
      .agg(
        count(lit(1)).as("df"),
        sum(col("tf")).as("cf"),
        array_join(transform(sort_array(collect_list(struct(col("doc_id"), col("entry")))),
          e => e.getField("entry")), "|").as("postings"))
  }

  /** SEQUENCE PACKING, DECLARATIVE FORM (q167) — concat-and-chunk, the
    * GPT-style training-data layout step [Brown et al. 2020 §2.2; Raffel
    * et al. 2020 (T5) pack the same way]: documents are concatenated in a
    * deterministic order (ascending `doc_id`) into one token stream cut
    * into fixed-size context chunks of `chunkTokens`; each doc's placement
    * is fully determined by the EXCLUSIVE prefix sum of token counts in
    * that order. [[sequencePacking]] (q68) computes the same layout by
    * dropping to the preference ladder's last rung — `mapPartitions` with a
    * driver-collected partition-total prefix; this operator is the fully
    * DECLARATIVE twin (range bins + per-group windows, Catalyst all the way
    * down, whitespace tokens instead of q68's BPE count), kept alongside it
    * because the two constructions check each other and only this one lets
    * the optimizer see through the plan. Output grain is one row per doc:
    * its offset in the stream, the first/last chunk it touches, and how
    * many chunk boundaries cross it (`crosses` — the attention-mask seams a
    * masking packer needs, the truncation loss a non-splitting packer
    * pays).
    *
    * The scale problem is the GLOBAL prefix sum: `Window.orderBy(doc_id)`
    * with no partition key plans as a SINGLE-TASK sort of the corpus — the
    * canonical accidental-serialization bug. This is the two-phase
    * distributed prefix sum instead:
    *   1. docs map to `groups` contiguous ranges of the order key (fixed-width
    *      binning on a broadcast (min, max) — the q141 move; production
    *      layouts over skewed keys would sample range boundaries the way
    *      `repartitionByRange` does);
    *   2. per-group token totals (ONE map-side-combinable agg → `groups`
    *      rows) turn into exclusive group offsets with a window over that
    *      control-plane frame;
    *   3. the within-group running sum partitions BY GROUP, so per-task work
    *      is corpus/groups and `groups` scales with the cluster, not 1.
    * Every quantity is an exact long (token counts via [[TextFns.tokensCol]],
    * mirrored by DuckDB `regexp_extract_all`), so the oracle — the
    * single-window construction this operator exists to avoid — matches
    * hash-for-hash. */
  def seqPack(spark: SparkSession, dir: String, chunkTokens: Long = 512L,
              groups: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = docs(spark, dir)
      .select(col("doc_id"), size(tokensCol(col("text"))).cast("long").as("token_ct"))
    val bounds = t.agg(min(col("doc_id")).as("lo"),
      (max(col("doc_id")) - min(col("doc_id")) + 1L).as("span"))
    val grouped = t.crossJoin(broadcast(bounds))
      .withColumn("g", expr(s"((doc_id - lo) * $groups) div span"))
      .drop("lo", "span")
    // group offsets: a window over a <= `groups`-row frame (control plane)
    val gw = Window.orderBy("g").rowsBetween(Window.unboundedPreceding, -1)
    val gOff = grouped.groupBy("g").agg(sum(col("token_ct")).as("g_total"))
      .withColumn("g_off", coalesce(sum(col("g_total")).over(gw), lit(0L)))
      .select(col("g"), col("g_off"))
    // within-group inclusive running sum: per-task work = corpus/groups
    val ww = Window.partitionBy("g").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    grouped.join(broadcast(gOff), Seq("g"))
      .withColumn("tok_offset",
        col("g_off") + sum(col("token_ct")).over(ww) - col("token_ct"))
      .withColumn("chunk_first", expr(s"tok_offset div $chunkTokens"))
      .withColumn("chunk_last",
        expr(s"(tok_offset + greatest(token_ct, 1) - 1) div $chunkTokens"))
      .select(col("doc_id"), col("token_ct"), col("tok_offset"),
        col("chunk_first"), col("chunk_last"),
        (col("chunk_last") - col("chunk_first")).as("crosses"))
  }

  /** INTERPOLATED KNESER-NEY LM SCORING (q174) — the KenLM-family quality
    * filter [Kneser & Ney, ICASSP'95; Chen & Goodman, CSL'99]: q92's MLE
    * bigram LM scores a doc 0 on any unseen bigram, so it can only rank
    * docs against the corpus they were counted from; the production filter
    * (CCNet's KenLM stage) trains ONCE on a reference store and scores a
    * NEVER-SEEN stream, which demands smoothing mass for unseen events.
    * KN gives it with the continuation-count insight: the backoff weight of
    * w2 is how many distinct contexts w2 follows (not its raw frequency), so
    * "Francisco" (frequent, one context) stops inflating unseen bigrams.
    *
    * Split = the q90 ingest discipline: LM trained on the store third
    * (doc_id < max/3), ALL docs scored — unseen bigrams genuinely occur and
    * take the discounted-interpolation path.
    *
    * Cross-engine discipline: probabilities are RATIONALS over integer
    * counts with discount D = 3/4, so floor(2²⁰·p) is ONE integer division —
    * for a seen context, p = (max(c₁₂−D,0) + D·N₁₊(w1,·)·cw2/ctot)/c1 put
    * over the common denominator 4·c1·ctot gives
    * q = (2²⁰·(max(4c₁₂−3,0)·ctot + 3·n1p·cw2)) div (4·c1·ctot);
    * for an unseen context, pure continuation: q = (2²⁰·cw2) div ctot.
    * decimal(38,0) keeps the products exact (num ≈ 4·c₁₂·ctot·2²⁰ overflows
    * a long at web scale but stays < 10³⁸ — the q144 lift), and HUGEINT
    * replays them exactly in DuckDB. No float touches the pipeline.
    *
    * Scale shape: the LM tables are vocabulary-bounded (the q70/q92
    * broadcast argument — at the billions-of-types web scale you'd prune to
    * the count≥k head first, the q92-pruned precedent); corpus-sized work is
    * the per-doc gram kernel + ONE partial-agged per-doc sum. */
  /** Training-side bigram counts of the KN LM — one (gram, c12) row per
    * distinct bigram over `trainDocs`. This is the maintainer's ADDITIVE
    * state: a batch's counts simply add per gram, so
    * [[graft.streaming.LmStream]] carries exactly this frame in the shared
    * EpochStore and everything else (marginals, continuation counts, ctot)
    * derives from it at read time. */
  def knGramCounts(trainDocs: DataFrame): DataFrame =
    trainDocs.select(explode(gramCountsUdf(2)(col("text"))))
      .select(col("key").as("gram"), col("value").cast("long").as("tf"))
      .groupBy("gram").agg(sum(col("tf")).as("c12"))

  def knScore(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val wm = d.agg(expr("max(doc_id) div 3").as("wm"))
    val train = d.crossJoin(broadcast(wm)).filter(col("doc_id") < col("wm"))
    knScoreWith(d, knGramCounts(train))
  }

  /** Score every doc in `d` (doc_id, text) against a trained corpus frame
    * (gram, c12) — the read half shared by batch q174 and the streaming
    * maintainer (maintained counts ≡ recomputed counts is LmStreamSpec's
    * gate; this function makes the score equality definitional). */
  /** Per-(doc, gram) KN score frame (doc_id, gram, tf, c12, q with q a
    * LONG 2²⁰-scaled probability) — the shared kernel under q174's per-doc
    * mean and q180's min-k% tail. */
  private def knGramScores(d: DataFrame, corpus: DataFrame): DataFrame = {
    val grams = d.select(col("doc_id"), explode(gramCountsUdf(2)(col("text"))))
      .select(col("doc_id"), col("key").as("gram"), col("value").cast("long").as("tf"))
    val marg = corpus.groupBy(expr("substring_index(gram, ' ', 1)").as("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1p"))
    val cont = corpus.groupBy(expr("substring_index(gram, ' ', -1)").as("w2"))
      .agg(count(lit(1)).as("cw2"))
    val ctot = corpus.agg(count(lit(1)).as("ctot"))
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    grams
      .withColumn("gw1", expr("substring_index(gram, ' ', 1)"))
      .withColumn("gw2", expr("substring_index(gram, ' ', -1)"))
      .join(broadcast(corpus), Seq("gram"), "left")
      .join(broadcast(marg), col("gw1") === col("w1"), "left")
      .join(broadcast(cont), col("gw2") === col("w2"), "left")
      .crossJoin(broadcast(ctot))
      .withColumn("q_num", when(col("c1").isNotNull,
        dec(lit(1048576L)) * (dec(greatest(lit(4L) * coalesce(col("c12"), lit(0L)) - 3L, lit(0L))) * dec(col("ctot"))
          + dec(lit(3L)) * dec(col("n1p")) * dec(coalesce(col("cw2"), lit(0L)))))
        .otherwise(dec(lit(1048576L)) * dec(coalesce(col("cw2"), lit(0L)))))
      .withColumn("q_den", when(col("c1").isNotNull,
        dec(lit(4L)) * dec(col("c1")) * dec(col("ctot"))).otherwise(dec(col("ctot"))))
      .withColumn("q", expr("q_num div q_den"))
  }

  def knScoreWith(d: DataFrame, corpus: DataFrame): DataFrame = {
    val scored = knGramScores(d, corpus)
      .groupBy("doc_id")
      .agg(sum(col("tf") * col("q")).as("kn_sum"), sum(col("tf")).as("n_bigrams"),
        sum(when(col("c12").isNull, col("tf")).otherwise(lit(0L))).as("oov_tf"))
    d.select("doc_id").join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("kn_sum"), lit(0L)).as("kn_sum"),
        coalesce(col("oov_tf"), lit(0L)).as("oov_tf"))
      .withColumn("avg_q",
        when(col("n_bigrams") > 0, expr("kn_sum div n_bigrams")).otherwise(lit(-1L)))
  }

  /** MIN-K% PROBABILITY MEMBERSHIP SCORE (q180) — [Shi et al., "Detecting
    * Pretraining Data from Large Language Models", ICLR'24]: the standard
    * contamination / membership-inference signal. A document the LM was
    * trained on has few LOW-probability tokens (the model absorbed even its
    * rare grams); a held-out document's tail is what gives it away. Score =
    * the mean probability of the k% LEAST-probable bigram tokens under the
    * q174 KN LM (trained on the store third) — the exact-integer sibling of
    * the paper's mean-log-prob (log is monotone, so ranking by mean tail
    * prob ranks identically per fixed k; avoiding log keeps the whole score
    * a rational over integer counts, the q174 discipline). `suspect` flags
    * docs whose tail mean exceeds the corpus mean — the "likely member"
    * triage bit (the spec owns separation quality: members must be flagged
    * at a higher rate than held-out docs; the flag just has to replay).
    *
    * Determinism where the paper has none: tokens enter the tail in
    * (q, tf) sort order and the take-sum is tie-invariant (equal-q tokens
    * contribute equal addends however the boundary splits), so the integer
    * score replays in SQL as an ordered-window cumulative take.
    *
    * Scale shape: the LM tables are vocab-bounded broadcasts (q174); the
    * per-doc tail is a sort_array over the DOC's OWN distinct grams — the
    * q119 bounded-per-key regime, no global sort; the corpus-mean
    * threshold rides back as a broadcast 1-row frame. */
  def minKProb(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val wm = d.agg(expr("max(doc_id) div 3").as("wm"))
    val train = d.crossJoin(broadcast(wm)).filter(col("doc_id") < col("wm"))
    val perDoc = knGramScores(d, knGramCounts(train))
      .select(col("doc_id"), col("q").cast("long").as("q"), col("tf"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_bigrams"),
        sort_array(collect_list(struct(col("q"), col("tf")))).as("arr"))
      .withColumn("k_tokens", expr("(n_bigrams + 4) div 5")) // ceil(20%)
      .withColumn("mink_sum", expr(
        """aggregate(arr, named_struct('rem', k_tokens, 's', 0L),
          |  (acc, e) -> named_struct(
          |    'rem', greatest(acc.rem - e.tf, 0L),
          |    's', acc.s + least(acc.rem, e.tf) * e.q),
          |  acc -> acc.s)""".stripMargin))
      .select(col("doc_id"), col("n_bigrams"), col("k_tokens"), col("mink_sum"))
    val scored = d.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("k_tokens"), lit(0L)).as("k_tokens"),
        coalesce(col("mink_sum"), lit(0L)).as("mink_sum"))
      .withColumn("mink_mean_q",
        when(col("k_tokens") > 0, expr("mink_sum div k_tokens")).otherwise(lit(-1L)))
    val thr = scored.filter(col("k_tokens") > 0)
      .agg(expr("sum(mink_mean_q) div count(1)").as("mean_all"))
    scored.crossJoin(broadcast(thr))
      .select(col("doc_id"), col("n_bigrams"), col("k_tokens"),
        col("mink_sum"), col("mink_mean_q"),
        (col("mink_mean_q") > col("mean_all")).as("suspect"))
  }

  /** GREEDY MAX-COVERAGE SOURCE SELECTION (q181) — the submodular
    * data-mixing primitive [Nemhauser, Wolsey & Fisher 1978: greedy gives
    * (1−1/e) of the optimal coverage; CELF (Leskovec et al. KDD'07) is the
    * production variant]: pick k sources whose UNION of distinct
    * vocabulary covers the most terms — "which crawls add new content"
    * rather than q80's volume quotas or q164's per-stratum samples. Each
    * round scores every unselected source by its MARGINAL gain (terms not
    * yet covered by the selection) and takes the argmax, ties to the
    * lexicographically smaller source — the determinism the paper leaves
    * unspecified.
    *
    * Coverage unit = distinct 3-token SHINGLES (the q26/q32 near-dup unit),
    * not unigrams: the driver corpus draws from a ~31-word vocabulary, so
    * any single source covers every unigram and greedy saturates in one
    * round — shingles (16k+ at sf0.01, sources covering ~8% each) give the
    * operator the coverage structure real crawls have.
    *
    * Scale shape: corpus work happens ONCE — the (source, shingle)
    * distinct is the only document scan, persisted for the k rounds. Each
    * round is ONE anti-join against the covered-terms frame + ONE
    * partial-agged groupBy(source) — shingle-vocab-sized, never
    * corpus-sized; the argmax collects a 1-row frame (the control-plane
    * exception, bounded by the source dimension) and the covered total is
    * the running sum of gains (coverage gain IS the new-term count, so no
    * extra action). k is the mixing knob, source count the domain — both
    * control-plane small. */
  def sourceSelect(spark: SparkSession, dir: String, k: Int = 4): DataFrame =
    sourceSelectFrom(spark,
      docs(spark, dir)
        .select(col("source"), explode(distinctShinglesUdf(3)(col("text"))).as("term")),
      k)

  /** Lexicographic compare on UTF-8 BYTES (unsigned) — the order Spark's
    * UTF8String and DuckDB's default collation sort strings in. Driver-side
    * tie-breaks must use THIS, not Scala's UTF-16 code-unit String
    * ordering, to stay bit-compatible with the engines (ADVICE r17 #2). */
  private def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** The greedy max-coverage walk over an arbitrary (source, term) frame
    * (duplicates allowed — deduped internally) — shared verbatim by the
    * batch operator above and [[graft.streaming.MixtureStream]]'s read
    * path (which feeds it the maintained first-seen shingle cells), so
    * maintained ≡ batch is the determinism of this one function.
    *
    * Shape (r17 — replaces k per-round cache scans with ONE aggregation):
    * each term contributes exactly to the cell keyed by its full SOURCE
    * SET, so the (sorted source-set → term count) CELL CLOSURE is a
    * sufficient statistic for every greedy quantity — round r's gain for
    * source s = Σ n over uncovered cells containing s, and picking s
    * covers exactly the cells containing it. The closure is ≤ 2^K cells
    * (K = source count — the mixture dimension, control-plane by the
    * FacilityStream cell-budget argument; guarded by `cellCap` as a named
    * refusal, never a silent truncation), so the whole walk runs
    * driver-side on exact integers — bit-equal picks/gains to the
    * per-round Spark form, proven by the unchanged oracle. Spark-side
    * cost: ONE corpus-scale shuffle (groupBy(term) collect_set — which
    * also dedups, so the caller no longer pre-distincts) + a cell-sized
    * count + one collect. The previous shape paid the distinct exchange,
    * a vocab-sized persist, and k rounds of anti-join + agg + collect
    * over the cache (r17 builder-box measurement 2.89 s → ~1.3 s at
    * sf0.1; the r17 driver bench confirmed 2.80 → 1.37 s). */
  private[graft] def sourceSelectFrom(spark: SparkSession, st0: DataFrame,
                                      k: Int, cellCap: Int = 100000): DataFrame = {
    import spark.implicits._
    // refuse BEFORE collecting (r18, ADVICE r17 #1): the cell count is
    // checked Spark-side off the persisted cell frame, so a too-wide source
    // dimension fires the named refusal while the cells still live on
    // executors — the r17 shape collected first and could OOM the driver
    // before the require ran. The count is one tiny action on the
    // just-materialized cache, not a second corpus pass.
    val cellsDf = st0.groupBy("term")
      .agg(sort_array(collect_set(col("source"))).as("ss"))
      .groupBy("ss").agg(count(lit(1)).as("n"))
      .persist()
    // released on the refusal path too (ADVICE r18 #1)
    val cells = try {
      val nCells = cellsDf.count()
      require(nCells <= cellCap,
        s"sourceSelect: $nCells source-combination cells exceed the " +
          s"$cellCap budget — the source dimension is too wide for the cell " +
          "closure; shrink it upstream or raise cellCap deliberately")
      cellsDf.as[(Seq[String], Long)].collect()
    } finally cellsDf.unpersist(blocking = false)
    var live = cells.map { case (ss, n) => (ss.toSet, n) }
    val picks = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long, Long)]
    var coveredTotal = 0L
    var done = false
    for (r <- 1 to k if !done) {
      val gains = live.iterator
        .flatMap { case (ss, n) => ss.iterator.map(_ -> n) }
        .foldLeft(Map.empty[String, Long]) { case (m, (s, n)) =>
          m.updated(s, m.getOrElse(s, 0L) + n)
        }
      if (gains.isEmpty) done = true
      else {
        // equal-gain tie-break by UTF-8 BYTE order (r18, ADVICE r17 #2):
        // Scala String ordering compares UTF-16 code units, which disagrees
        // with Spark's UTF8String/DuckDB's byte order for supplementary vs
        // U+E000..U+FFFF characters — byte comparison keeps the pick
        // bit-compatible with the pre-r17 orderBy(col("source")) form and
        // the byte-ordered oracle on any source alphabet.
        val (src, gain) = gains.reduceLeft { (best, cur) =>
          if (cur._2 > best._2 ||
              (cur._2 == best._2 && utf8Compare(cur._1, best._1) < 0)) cur
          else best
        }
        coveredTotal += gain
        picks += ((r, src, gain, coveredTotal))
        live = live.filterNot { case (ss, _) => ss.contains(src) }
      }
    }
    picks.toSeq.toDF("rank", "source", "gain", "covered_total")
      .select(col("rank").cast("int").as("rank"), col("source"),
        col("gain"), col("covered_total"))
  }

  /** CAPPED WATER-FILLING BUDGET ALLOCATION (q182) — the mixture-EXECUTION
    * step after q73/q80/q181 choose proportions: split a token budget B
    * across sources proportionally to a weight, except no source can give
    * more than it has — the max-min-fair / water-filling allocation
    * [Bertsekas & Gallager, "Data Networks" §6.5; the same construction
    * behind DoReMi-style mixture realization]. a_s = min(avail_s, λ·w_s)
    * with λ the water level making Σ a_s = B.
    *
    * Exact threshold construction, no iteration: sort sources by the
    * avail/weight ratio (2⁴⁰-quantized integer key, ties to the smaller
    * source — both engines sort identically); a prefix of that order is
    * capped, and row i is capped iff avail_i·W≥i ≤ R_i·w_i (exact integer
    * cross-multiplication; R_i = B − Σ_{j<i} avail_j, W≥i = suffix weight
    * sum) AND every earlier row passed (running min — the quantized sort
    * key can locally misorder near-equal ratios, and the running AND keeps
    * the prefix well-defined identically in both engines). Uncapped rows
    * get floor(w_s·(B − Σ_capped avail)/Σ_uncapped w) — allocation ≤ B
    * with undershoot < |uncapped| tokens (documented, not redistributed:
    * largest-remainder rounding would add a second sort for < 20 tokens).
    *
    * Scale shape: ONE corpus scan builds per-source (avail, weight); the
    * walk is three window passes over the SOURCE-dimension frame — the
    * q122-axis control-plane argument (single-partition windows over a
    * bounded domain, never the corpus). decimal(38,0) products: token
    * counts at 100 TB times budgets overflow a long. */
  def budgetAllocate(spark: SparkSession, dir: String): DataFrame = {
    // (avail, weight) live at different grains — two partial aggs
    val avail = docs(spark, dir)
      .groupBy("source")
      .agg(sum(size(tokensCol(col("text"))).cast("long")).as("avail"))
    val weight = docs(spark, dir)
      .select(col("source"), explode(distinctShinglesUdf(3)(col("text"))).as("sh"))
      .distinct()
      .groupBy("source").agg(count(lit(1)).as("weight"))
    allocateFromStats(avail.join(weight, Seq("source")))
  }

  /** The water-filling walk over an arbitrary (source, avail, weight)
    * frame — shared verbatim by the batch operator above and
    * [[graft.streaming.MixtureStream]]'s read path (avail and the shingle
    * cells backing weight are its maintained sufficient statistics). */
  private[graft] def allocateFromStats(stats: DataFrame): DataFrame = {
    val Window = org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("rk"), col("source"))
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val src = stats
      .withColumn("rk",
        expr("(cast(avail as decimal(38,0)) * 1099511627776) div weight"))
    val tot = src.agg(sum(col("avail")).as("tot_avail"))
      .withColumn("budget", expr("tot_avail div 5"))
    val walked = src.crossJoin(broadcast(tot))
      .withColumn("prefix_avail",
        coalesce(sum(col("avail")).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("suffix_w",
        sum(col("weight")).over(w.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .withColumn("pass",
        when(dec(col("avail")) * dec(col("suffix_w"))
          <= dec(col("budget") - col("prefix_avail")) * dec(col("weight")), 1L)
          .otherwise(0L))
      .withColumn("capped",
        min(col("pass")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)) === 1L)
    val lam = walked.agg(
      (max(col("budget")) - sum(when(col("capped"), col("avail")).otherwise(0L))).as("num"),
      sum(when(!col("capped"), col("weight")).otherwise(0L)).as("den"))
    walked.crossJoin(broadcast(lam))
      .select(col("source"), col("avail"), col("weight"), col("budget"), col("capped"),
        when(col("capped"), col("avail"))
          .otherwise(expr(
            "cast((cast(weight as decimal(38,0)) * num) div den as bigint)"))
          .as("allocated"))
  }

  /** RAKE KEYPHRASE EXTRACTION (q178) — Rapid Automatic Keyword Extraction
    * [Rose et al. 2010]: candidate phrases are maximal runs of non-stopword
    * tokens, each word scores deg(w)/freq(w) over the candidate set (deg =
    * Σ length of the phrases it appears in — words that travel in long
    * phrases score high), and a phrase scores the sum of its words. Output
    * grain: each document's best phrase (ties broken by lexicographically
    * LARGEST phrase — max over a (score, phrase) struct) plus its phrase
    * count — the "what is this doc about" column a curation pipeline keys
    * facet filters on.
    *
    * Two deterministic departures from the paper, both documented contract:
    * runs split at STOPWORDS only (the driver corpus has no punctuation;
    * a sentence-split would be dead code here), and runs are CHUNKED into
    * ≤ maxLen-token candidates from the run start (the paper drops
    * over-long candidates outright; on a stopword-sparse corpus that would
    * discard most of the text — chunking keeps every token while bounding
    * candidate length, and replays exactly in SQL).
    *
    * Cross-engine exactness: word ratio = (deg·2²⁰) div freq — integer;
    * phrase score = Σ ratios — integer; the per-doc argmax is a max over
    * a (score, phrase) struct (both engines compare structs
    * lexicographically; tokens are ASCII so string order agrees).
    *
    * Scale shape: the corpus-sized frames are the token explode and one
    * groupBy to (doc, run, chunk) grain; both windows partition by doc_id
    * (bounded per-doc token count — the q119 bounded-key regime). Word
    * stats are vocab-sized and BROADCAST back onto members; the per-doc
    * argmax is one max-struct partial agg — no global sort anywhere. */
  def rakeKeyphrases(spark: SparkSession, dir: String, maxLen: Int = 4): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val stop = graft.functions.TextFns.StopwordsEn
    val tok = docs(spark, dir)
      .select(col("doc_id"), posexplode(tokensCol(col("text"))).as(Seq("pos", "tok")))
    val runs = tok.filter(!col("tok").isInCollection(stop))
      .withColumn("run",
        col("pos") - row_number().over(w.partitionBy("doc_id").orderBy("pos")))
    val members = runs
      .withColumn("rn2",
        row_number().over(w.partitionBy("doc_id", "run").orderBy("pos")))
      .withColumn("ci", expr(s"(rn2 - 1) div $maxLen"))
      .withColumn("plen",
        count(lit(1)).over(w.partitionBy("doc_id", "run", "ci")))
      .persist() // feeds wordStats AND phrases; released by the caller's clearCache
    val wordStats = members.groupBy("tok")
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
      .withColumn("ratio", expr("(deg * 1048576) div freq"))
    val phrases = members
      .join(broadcast(wordStats.select("tok", "ratio")), Seq("tok"))
      .groupBy("doc_id", "run", "ci")
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ").as("phrase"),
        sum(col("ratio")).as("score"),
        count(lit(1)).as("n_words"))
    phrases.groupBy("doc_id")
      .agg(count(lit(1)).as("n_phrases"),
        max(struct(col("score"), col("phrase"))).as("m"))
      .select(col("doc_id"), col("n_phrases"),
        col("m").getField("phrase").as("top_phrase"),
        col("m").getField("score").as("score_q"))
  }

  /** ZIPF TAIL INDEX (q205) — the Hill estimator [Hill, Ann. Statist. 1975]
    * of each source's token-frequency tail exponent, the corpus-health
    * number behind "is this source natural language or template spam":
    * natural text sits near α ≈ 1 (Zipf), boilerplate/machine-generated
    * sources skew heavy-headed (α ≫ 1 — a few tokens dominate) or
    * flat (α < 1). Per source: rank tokens by count, take the top `m`
    * order statistics, α̂ = (m−1) / Σᵢ ln(cᵢ/c_m).
    *
    * Integer-exact on the 2²⁰ grid (the q103 idiom): ln runs ONLY on exact
    * integer counts, the tail sum is a sum of quantized-log differences
    * (order-free), and the single division is truncating integer division —
    * identical in Spark `div` and DuckDB `//`. The rank-m count is the top
    * set's MINIMUM count (ranking is count-desc), so the whole estimator is
    * one groupBy over the top-m frame. α as double is αq/2²⁰ — a power-of-2
    * rescale, exact in IEEE.
    *
    * Scale shape: ONE corpus token scan into a partial-agged
    * (source, token) count, ONE source-partitioned rank window over the
    * vocab-sized count frame (vocab ≪ corpus; the same frame q60/q65
    * rank), and ONE conditional source-grain agg that folds n_terms and
    * the top-m tail statistics into a single pass — no second branch, no
    * cache, and the final agg rides the window's source partitioning
    * (exchange reuse: two shuffles total). */
  def zipfTail(spark: SparkSession, dir: String, m: Int = 64): DataFrame = {
    val G = 1048576L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("ct").desc, col("token"))
    val inTop = col("rnk") <= m
    docs(spark, dir)
      .select(col("source"), explode(tokensCol(col("text"))).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("ct"))
      .withColumn("rnk", row_number().over(w))
      .withColumn("lnq", when(inTop, floor(log(col("ct").cast("double")) * G)))
      .groupBy("source")
      .agg(count(lit(1)).as("n_terms"),
        count(when(inTop, lit(1))).as("m_used"),
        (sum(col("lnq")) - count(when(inTop, lit(1))) * min(col("lnq")))
          .as("tail_sum_q"))
      .filter(col("m_used") >= 2)
      .withColumn("alpha_q",
        expr("((m_used - 1) * 1099511627776) div greatest(tail_sum_q, 1)"))
      .select(col("source"), col("n_terms"), col("m_used").cast("int").as("m_used"),
        col("tail_sum_q"), col("alpha_q"),
        (col("alpha_q").cast("double") / lit(1048576.0d)).as("alpha"))
  }

  /** PMI COLLOCATION MINING (q206) — [Church & Hanks, "Word association
    * norms, mutual information, and lexicography", Comp. Ling. 1990; the
    * phrase-detection pass of word2vec, Mikolov et al. 2013]: the corpus's
    * top word-pair collocations by pointwise mutual information,
    * PMI(x,y) = ln( c_xy·N / (c_x·c_y) ) — the global phrase dictionary a
    * pipeline seeds tokenizer vocabularies and entity gazetteers from
    * (q178's RAKE ranks phrases per document; this ranks pairs over the
    * whole corpus). A min-count floor (c_xy ≥ 5, the standard rare-pair
    * guard — PMI is maximized by hapax pairs without it) keeps the
    * ranking statistical rather than noise.
    *
    * Integer-grid exact (the q103/q203 discipline): pmi_q =
    * ⌊ln(c_xy·N)·2²⁰⌋ − ⌊ln(c_x·c_y)·2²⁰⌋ — ln on products of exact
    * integer counts (exact in double while c_xy·N < 2⁵³; beyond that the
    * int64→double rounding is itself IEEE-deterministic on both engines),
    * and the top-64 cut is totally ordered by (pmi_q DESC, bigram).
    *
    * Scale shape: ONE corpus scan — the unigrams and the adjacent-pair
    * shingles explode together as a TAGGED union into one partial-agged
    * (tag, gram) count (same total shuffle volume as two separate aggs,
    * half the corpus reads), persisted at vocab size so the unigram
    * frame's three consumers (N, both join sides) read one
    * materialization (the q203 branch-re-scan lesson, PLANS r17). The
    * join back is vocab⋈vocab (never corpus-shaped), N is a 1-row
    * broadcast, and the global top-64 is a TakeOrdered — no
    * single-partition window anywhere. */
  def pmiCollocations(spark: SparkSession, dir: String, minCount: Long = 5L,
                      topK: Int = 64): DataFrame =
    pmiFrom(
      docs(spark, dir)
        .select(tokensCol(col("text")).as("toks"))
        .select(explode(concat(
          transform(col("toks"), t => struct(lit("u").as("tag"), t.as("g"))),
          transform(shinglesCol(col("toks"), 2),
            s => struct(lit("b").as("tag"), s.as("g"))))).as("x"))
        .select(col("x.tag").as("tag"), col("x.g").as("g"))
        .groupBy("tag", "g").agg(count(lit(1)).as("c")),
      minCount, topK)

  /** The PMI ranking over an arbitrary aggregated (tag, g, c) count frame
    * — the shared read path for [[pmiCollocations]] and
    * [[graft.streaming.MixtureStream]]'s maintained tagged-count store,
    * so maintained ≡ batch is the determinism of this one function. The
    * frame is persisted here (vocab-sized; four consumers), the top-K
    * result is collected (control-plane bounded by construction), and
    * the cache is released before returning — the [[doremiFrom]]
    * discipline, so a long-lived maintained read loop never accumulates
    * cache entries. */
  private[graft] def pmiFrom(taggedCounts: DataFrame, minCount: Long,
                             topK: Int): DataFrame = {
    val G = 1048576L
    val tagged = taggedCounts.persist()
    val uni = tagged.filter(col("tag") === "u")
      .select(col("g").as("w"), col("c"))
    val n = uni.agg(sum(col("c")).as("n"))
    val bi = tagged.filter(col("tag") === "b")
      .select(col("g").as("bigram"), col("c").as("ct"))
      .filter(col("ct") >= minCount)
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .withColumn("w2", split(col("bigram"), " ").getItem(1))
    val out = bi
      .join(uni.select(col("w").as("w1"), col("c").as("cx")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("cy")), Seq("w2"))
      .crossJoin(broadcast(n))
      .withColumn("pmi_q",
        (floor(log((col("ct") * col("n")).cast("double")) * G) -
          floor(log((col("cx") * col("cy")).cast("double")) * G)).cast("long"))
      .orderBy(col("pmi_q").desc, col("bigram"))
      .limit(topK)
      .select(col("bigram"), col("ct"), col("cx"), col("cy"), col("pmi_q"),
        (col("pmi_q").cast("double") / lit(1048576.0d)).as("pmi"))
    // the top-K dictionary is control-plane tiny: collect it, RELEASE the
    // cache, return a local frame (the doremiFrom discipline) — a
    // long-lived maintained read loop (MixtureStream.readPmi) must not
    // accumulate one cache entry per read
    val rows = out.collect()
    val spark = taggedCounts.sparkSession
    tagged.unpersist()
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
  }

  /** DOREMI DOMAIN REWEIGHTING (q203) — [Xie et al., "DoReMi: Optimizing
    * Data Mixtures Speeds Up Language Model Pretraining", NeurIPS 2023]:
    * compute per-domain mixture weights by iteratively UPWEIGHTING the
    * domains the current mixture models worst (Group-DRO on excess loss).
    * This is the step that produces the weights q73/q100 sample by and
    * q121 materializes into shards — the optimizer ABOVE the samplers.
    *
    * Two documented determinism departures from the paper (the
    * [[graft.operators.Similarity.semanticDedup]] discipline):
    * (1) the proxy/reference model pair is replaced by the corpus's own
    * unigram LMs — domain d's excess loss is KL(p_d ‖ m_t), its
    * cross-entropy under the current MIXTURE unigram model minus its own
    * entropy floor, recomputed each round as the weights move (the
    * Group-DRO dynamic: upweighted domains pull the mixture toward
    * themselves, their KL falls, equilibrium); (2) the exponentiated-
    * gradient update is the LINEAR multiplicative-weights form
    * w ← w·(1 + η·x̃) [Arora, Hazan & Kale, "The multiplicative weights
    * update method", 2012] with x̃ the round's max-normalized excess and
    * η = ½ — `exp` has no cross-engine-exact precedent in this repo's
    * oracle gate (ln on exact integers does, the q103 idiom), and the
    * linear form is the canonical MWU variant with the same regret bound.
    *
    * Everything is integer-exact on the 2²⁰ grid: grid probabilities
    * pq = ⌊c·G/T_d⌋+1 (add-one smoothing so every present (d,v) cell has
    * mixture mass), mixture log-prob ⌊ln(Σ_d u_d·pq)·G⌋ − ⌊ln(Σu)·G⌋ − lnG
    * (ln of exact integers only), truncating integer division everywhere
    * (Scala Long `/` ≡ DuckDB `//`), and the only float output is one
    * final IEEE division u/Σu. Long headroom: per-domain token totals
    * T_d < 2³⁸ keep every intermediate under 2⁶³ (u ≤ 1.5⁸·2²⁰ < 2²⁶,
    * u·pq < 2⁴⁷, Σ_v c·|lmq| ≤ T_d·2²⁶).
    *
    * Scale shape: ONE corpus token scan (partial-agged (source, token)
    * counts); the vocab is then CAPPED to the global top `vocabCap` tokens
    * (+ '<unk>' bucket — what production tokenizer pipelines do anyway),
    * making the per-domain LM frame ≤ K·(vocabCap+1) rows — strictly
    * bounded, so the T-round walk is driver-side control plane (the q199
    * greedy/q201 K-key precedent), and the walk costs no further corpus
    * passes at any corpus size. */
  def doremiWeights(spark: SparkSession, dir: String, vocabCap: Int = 4095,
                    rounds: Int = 8): DataFrame =
    doremiFrom(spark,
      docs(spark, dir)
        .select(col("source"), explode(tokensCol(col("text"))).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("ct")),
      vocabCap, rounds)

  /** The capped-vocab DoReMi walk over an arbitrary (source, tok, ct)
    * count frame — the shared read path for [[doremiWeights]] and a
    * streaming maintainer of the same sufficient statistic, so
    * maintained ≡ batch is the determinism of this one function. */
  private[graft] def doremiFrom(spark: SparkSession, raw: DataFrame,
                                vocabCap: Int, rounds: Int): DataFrame = {
    import spark.implicits._
    val G = 1048576L
    def lnq(x: Long): Long = math.floor(math.log(x.toDouble) * G.toDouble).toLong
    val lnGq = lnq(G)
    // ONE corpus scan: the (source, tok) count frame is vocab-sized —
    // persist it so the global-top cap and the capped recount read one
    // materialization. Unpersisted, every reference re-ran the corpus
    // explode: the collect plan carried SIX FileScans (PLANS r17). The
    // cache stays until the harness's per-query release (the ivfAnn
    // discipline); a caller that already persisted its stats frame just
    // shares the same cache entry.
    val rawC = raw.persist()
    val keep = rawC.groupBy("tok").agg(sum(col("ct")).as("g"))
      .orderBy(col("g").desc, col("tok")).limit(vocabCap)
      .select(col("tok"), lit(true).as("keep"))
    val cnt = rawC.join(broadcast(keep), Seq("tok"), "left")
      .withColumn("v", when(col("keep"), col("tok")).otherwise(lit("<unk>")))
      .groupBy(col("source"), col("v"))
      .agg(sum(col("ct")).cast("long").as("c"))
    // bounded control-plane collect: ≤ K·(vocabCap+1) rows by construction;
    // totals, grid probabilities and entropies derive DRIVER-side in the
    // same exact integer arithmetic the oracle replays — joining them in
    // Spark would re-reference the count subtree for zero data-plane gain
    val rows = cnt.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // everything below is driver-local, so the count cache can go now.
    // Caller contract: doremiFrom releases the cache on the frame it was
    // handed — callers must not rely on a pre-installed cache entry for
    // the exact same plan (both current callers build fresh frames).
    rawC.unpersist()
    if (rows.isEmpty)
      throw new IllegalArgumentException(
        "doremiFrom: empty (source, tok, ct) frame — no domains to weight " +
          "(an empty corpus has no mixture; check the input path/store)")
    val domains = rows.map(_._1).distinct.sorted
    val byDomain = rows.groupBy(_._1)
    val td = domains.map(d => d -> byDomain(d).map(_._3).sum).toMap
    val pqOf = rows.map { case (d, v, c) => (d, v) -> ((c * G) / td(d) + 1L) }.toMap
    val hq = domains.map { d =>
      d -> -(byDomain(d).map { case (_, _, c) => c * (lnq(c) - lnq(td(d))) }.sum / td(d))
    }.toMap
    val byToken = rows.groupBy(_._2)
    var u = domains.map(_ -> G).toMap
    var lastX = domains.map(_ -> 0L).toMap
    for (_ <- 1 to rounds) {
      val dsum = domains.map(u).sum
      val lm = byToken.map { case (v, rs) =>
        v -> (lnq(rs.map(t => u(t._1) * pqOf((t._1, v))).sum) - lnq(dsum) - lnGq)
      }
      val x = domains.map { d =>
        val ce = -(byDomain(d).map { case (_, v, c) => c * lm(v) }.sum / td(d))
        d -> math.max(0L, ce - hq(d))
      }.toMap
      val xmax = math.max(1L, domains.map(x).max)
      lastX = x
      u = domains.map(d => d -> (u(d) * (2 * G + (x(d) * G) / xmax)) / (2 * G)).toMap
    }
    val usum = domains.map(u).sum
    domains.toSeq.map(d =>
        (d, td(d), hq(d), lastX(d), u(d), u(d).toDouble / usum.toDouble))
      .toDF("source", "t_tokens", "entropy_q", "excess_q", "weight_q", "weight")
  }
}
