package graft.operators

import graft.Tables
import graft.functions.TextFns._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for the training-data pipeline: exact (hash groupBy),
  * n-gram Jaccard, MinHash+LSH, and SimHash.
  *
  * Scale design (100 TB): exact dedup is a single hash shuffle on a 128-bit
  * fingerprint (never on the full text). Near-dup paths never materialize the
  * O(n²) pair space — MinHash/LSH banding and SimHash segment-blocking both
  * bound candidate generation to same-bucket pairs; the exact-Jaccard verifier
  * then runs only on candidates. The quadratic `ngramJaccard` exists as the
  * correctness oracle and is key-capped.
  */
object Dedup {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")

  /** Exact dedup via 128-bit content fingerprint: one shuffle on md5(text),
    * keeper = lowest doc_id per group. */
  def exact(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy(md5(col("text").cast("binary")).as("fingerprint"))
      .agg(count(lit(1)).as("dup_ct"), min(col("doc_id")).as("keeper_doc_id"))

  /** Exact pairwise 3-gram-shingle Jaccard ≥ 0.5 (capped at doc_id < 500: this
    * is the oracle/verifier path; the scale path is [[minhashLsh]]).
    *
    * Shingling is the single-pass [[graft.functions.TextFns.distinctShingles]]
    * kernel (the tokensCol→shinglesCol→array_distinct HOF chain is
    * CodegenFallback-interpreted and materializes every gram twice), and each
    * doc's set size rides along the exploded rows — max(n) inside the pair
    * aggregation replaces the separate per-doc count shuffle plus two joins
    * the previous shape paid. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val sh = docs(spark, dir)
      .filter(col("doc_id") < 500)
      .select(col("doc_id"), distinctShinglesUdf(3)(col("text")).as("shs"))
      .select(col("doc_id"), size(col("shs")).as("n"), explode(col("shs")).as("sh"))
    sh.as("a")
      .join(sh.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("inter"),
        max(col("a.n")).as("na"), max(col("b.n")).as("nb"))
      .withColumn("jac", col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jac") >= 0.5)
      .select(col("da"), col("db"), col("jac"))
  }

  /** Near-dup candidate pairs that band-collide under MinHash LSH (64 perms,
    * 16 bands × 4 rows ⇒ S-curve threshold ≈ (1/16)^(1/4) ≈ 0.5), then verified
    * with exact shingle Jaccard ≥ 0.5 so every emitted pair is a true near-dup.
    * Cost: one shuffle on (band, bandHash) + verification on candidates only. */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashLshFrom(docs(spark, dir))

  /** Shared MinHash-LSH SELF-join candidate generation: (da, db) doc pairs
    * (da < db) that collide in at least one of `bands` bands. ONE shuffle on
    * (band, band_hash); consumed by [[minhashLshFrom]] (Jaccard verify) and
    * [[editDistancePairsFrom]] (Levenshtein verify) — one definition, so a
    * banding change can never desynchronize the dedup operators' candidate
    * sets. [[ingestNearDup]]'s CROSS-set variant stays separate by design. */
  private def lshCandidatePairs(corpus: DataFrame, bands: Int = 16): DataFrame = {
    val banded = corpus
      .select(col("doc_id"), posexplode(textBandsUdf(bands)(col("text"))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .dropDuplicates("da", "db")
  }

  /** MinHash-LSH near-dup pairs over any (doc_id, text) DataFrame — lets
    * pipeline stages (e.g. [[graft.operators.TextOps.cleanCorpus]]) run
    * near-dup detection on an already-filtered corpus instead of rescanning
    * everything. */
  def minhashLshFrom(corpus: DataFrame): DataFrame = {
    // Single-pass kernels (TextFns.textBands / shingleHashes): the banding side
    // shuffles only (doc_id, band, band_hash); the verification side joins
    // 64-bit shingle-hash arrays back for surviving candidates only, so the
    // expensive text processing runs O(n) times, never per candidate pair.
    val cand = lshCandidatePairs(corpus)
    val hashes = corpus
      .select(col("doc_id"), shingleHashesUdf(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
    cand
      .join(hashes.select(col("doc_id").as("da"), col("sh").as("sha")), "da")
      .join(hashes.select(col("doc_id").as("db"), col("sh").as("shb")), "db")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jac",
        col("inter").cast("double") / (size(col("sha")) + size(col("shb")) - col("inter")))
      .filter(col("jac") >= 0.5)
      .select(col("da"), col("db"), col("jac"))
  }

  /** EDIT-DISTANCE near-dup pairs: doc pairs with Levenshtein(text_a, text_b)
    * ≤ `maxEd`, the character-level fuzzy-dedup complement of the set-based
    * measures ([[minhashLsh]] Jaccard, [[containmentPairs]] overlap): it
    * catches small in-place edits — typo fixes, token substitutions, template
    * fills — and REPORTS the exact edit count, which set measures can't.
    *
    * Scale path: never run the O(len²) DP on the O(n²) pair space. Candidates
    * come from the same one-shuffle MinHash banding as [[minhashLshFrom]]
    * (reference dedup surface: SunZhipengBigData/gmall-realtime2021 has no
    * fuzzy dedup; this extends the LLM-pipeline suite), then two lossless
    * prunes run before any DP: |len(a)−len(b)| ≤ maxEd (each edit changes
    * length by ≤ 1), and the DP itself is Spark's THRESHOLDED
    * `levenshtein(l, r, maxEd)` — the banded O(maxEd·len) variant that bails
    * to −1 the moment a row of the band exceeds the threshold, so the verify
    * cost per candidate is linear in text length, not quadratic.
    *
    * Recall contract: banding recall for edit-close pairs is EMPIRICAL, not a
    * theorem (d edits can in principle break every shingle band; on this
    * corpus every ed≤24 pair is also a jac≥0.5 pair — verified — and LSH
    * recall at jac≥0.5 is measured 1.0, so the q112 oracle's exact
    * length-filtered full-DP join must hash-match pair-for-pair). For a
    * theorem-true candidate set at adversarial thresholds, select
    * `candidates = "edjoin"`: ED-Join's positional q-gram prefix filter
    * (Xiao et al., VLDB 2008) on the same join skeleton —
    * [[edJoinCandidatePairs]], available and spec-gated (scattered-edit
    * pairs that destroy every shingle band are still caught). */
  def editDistancePairs(spark: SparkSession, dir: String, maxEd: Int = 24): DataFrame =
    editDistancePairsFrom(docs(spark, dir), maxEd)

  /** Frame form of [[editDistancePairs]]: `corpus` needs doc_id + text.
    *
    * The length rides the text join on purpose. A thin-first variant
    * (join (doc_id, len) only, length-filter, then fetch text for
    * survivors) was prototyped and rejected: solo sf0.1 timings are
    * indistinguishable (0.98 s vs 1.09 s), and the prune's measured
    * selectivity on LSH candidates is ~0.4% (257 → 256 pairs) — banding
    * already selects near-dups, which are length-close, so thin-first's
    * text-shipping saving is negligible while it doubles the join passes
    * over the candidate set. The scale cost of this operator is the DP,
    * and the THRESHOLD bounds that; the length filter's job is only to
    * skip the DP where |Δlen| alone disproves the pair, which it does
    * equally well fused into the verify join. */
  def editDistancePairsFrom(corpus: DataFrame, maxEd: Int = 24,
                            candidates: String = "lsh"): DataFrame = {
    val cand = candidates match {
      case "lsh"    => lshCandidatePairs(corpus)
      case "edjoin" => edJoinCandidatePairs(corpus, maxEd)
      case other => throw new IllegalArgumentException(
        s"candidates must be 'lsh' or 'edjoin', got '$other'")
    }
    val texts = corpus.select(col("doc_id"), col("text"), length(col("text")).as("n"))
    cand
      .join(texts.select(col("doc_id").as("da"), col("text").as("ta"), col("n").as("na")), "da")
      .join(texts.select(col("doc_id").as("db"), col("text").as("tb"), col("n").as("nb")), "db")
      // lossless pre-DP prune: ed(a,b) ≥ |len(a)−len(b)|
      .filter(abs(col("na") - col("nb")) <= maxEd)
      // thresholded banded DP: −1 = "exceeds maxEd", pruned without full cost
      .withColumn("ed", levenshtein(col("ta"), col("tb"), maxEd))
      .filter(col("ed") >= 0)
      .select(col("da"), col("db"), col("ed"))
  }

  /** THEOREM-TRUE candidate pairs for edit distance ≤ `maxEd` — ED-Join's
    * positional q-gram prefix filter (Xiao et al., VLDB 2008), the
    * guaranteed-recall alternative to [[lshCandidatePairs]] for
    * [[editDistancePairsFrom]] (`candidates = "edjoin"`).
    *
    * Soundness: one edit destroys at most q q-gram OCCURRENCES, so
    * ed(s,t) ≤ d ⟹ at least #G(s) − q·d of s's occurrences survive into t
    * at a position shifted by ≤ d. Contrapositive pigeonhole: under any
    * fixed global gram order, if NONE of s's first q·d+1 occurrences has a
    * positionally-compatible match in t, more than q·d were destroyed —
    * impossible. Hence the PREFIX-PREFIX equi-join on gram hash with
    * |Δpos| ≤ d and |Δlen| ≤ d (both lossless) finds every true pair where
    * at least one side has MORE than q·d gram occurrences (its required
    * overlap ≥ 1; the shorter side's whole gram list fits inside the
    * prefix, so its occurrences are all exploded). Pairs where BOTH sides
    * have ≤ q·d occurrences (strings shorter than q·d + q chars — d edits
    * can rewrite them entirely, no shared gram guaranteed) fall back to a
    * length-bucket-blocked brute pairing: bounded work, the bucket join is
    * an equi-join on ⌊n/(d+1)⌋ with neighbor-bucket expansion, and the DP
    * verify still bounds the cost.
    *
    * Scale shape: one explode of ≤ q·d+1 rows per doc, one equi-join on the
    * gram hash (AQE-skew-splittable — a boilerplate gram is a hot key, the
    * same discipline as [[lshCandidatePairs]]' band buckets), dropDuplicates
    * on the pair key. No windows, never all-pairs. */
  private[operators] def edJoinCandidatePairs(corpus: DataFrame, maxEd: Int,
                                              q: Int = 3): DataFrame = {
    val prefixLen = q * maxEd + 1
    val pg = corpus
      .select(col("doc_id"), length(col("text")).as("n"),
        posQGramsUdf(q)(col("text")).as("g"))
    val pref = pg
      .select(col("doc_id"), col("n"),
        explode(slice(col("g"), 1, prefixLen)).as("e"))
      .select(col("doc_id"), col("n"), col("e._1").as("h"), col("e._2").as("p"))
    val byGram = pref.as("a")
      .join(pref.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
          abs(col("a.p") - col("b.p")) <= maxEd &&
          abs(col("a.n") - col("b.n")) <= maxEd)
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
    // short-short completeness bucket: both sides ≤ q·d occurrences
    val short = pg.filter(size(col("g")) <= q * maxEd)
      .select(col("doc_id"), col("n"), floor(col("n") / (maxEd + 1)).as("bkt"))
    val shortB = short.select(col("doc_id").as("doc_b"), col("n").as("n_b"),
      explode(array(col("bkt") - 1, col("bkt"), col("bkt") + 1)).as("bkt"))
    val bruteShort = short.as("a")
      .join(shortB, Seq("bkt"))
      .filter(col("doc_id") < col("doc_b") && abs(col("n") - col("n_b")) <= maxEd)
      .select(col("doc_id").as("da"), col("doc_b").as("db"))
    byGram.unionByName(bruteShort).dropDuplicates("da", "db")
  }

  /** CONTAINMENT near-dup pairs (Broder 1997's containment measure; overlap
    * coefficient form): |A∩B| / min(|A|,|B|) ≥ 0.8 over 3-gram shingle sets —
    * the ASYMMETRIC duplication Jaccard-based LSH structurally misses (a doc
    * quoted wholesale inside a much larger one has Jaccard ≈ |A|/|B| → 0 but
    * containment ≈ 1; think boilerplate wrappers around mirrored articles).
    *
    * Scale path = PREFIX FILTERING (Chaudhuri et al. 2006 / PPJoin family):
    * a pair with |A∩B| ≥ t·min(n) must — by pigeonhole — share a shingle
    * inside the smaller set's ⌊(1−t)·n⌋+1 smallest hashes under any fixed
    * global order. So the PROBE side explodes only that prefix (~20% of
    * shingles at t=0.8) while the INDEX side explodes all, candidates come
    * from one equi-join on the hash, and the exact intersection is computed
    * on candidates only via the array-intersect verify join (the
    * [[minhashLshFrom]] shape). No windows; the verify side is
    * AQE-skew-splittable. The threshold test is INTEGER (5·inter ≥ 4·min) —
    * no float boundary; the reported `cont` double is an exact division.
    * Recall is exact by construction (prefix guarantee + exact verify), which
    * the q102 oracle confirms: it computes the full shared-shingle join and
    * must hash-match. Capped at doc_id < 500 like [[ngramJaccard]] — this is
    * the verifier-path contract; uncapped runs ride the same plan. */
  def containmentPairs(spark: SparkSession, dir: String): DataFrame =
    containmentPairsFrom(docs(spark, dir).filter(col("doc_id") < 500))

  /** Frame form of [[containmentPairs]]. `threshold` is a percentage (80 =
    * 0.8) so the prefix length and the selection test stay in EXACT integer
    * arithmetic: the float form floor((1−t)·n)+1 undershoots by one when t·n
    * is an exact integer (IEEE 1−0.8 = 0.1999…) and silently breaks the
    * pigeonhole recall guarantee. */
  def containmentPairsFrom(corpus: DataFrame, thresholdPct: Int = 80): DataFrame = {
    val sh = corpus
      .select(col("doc_id"), shingleHashesUdf(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), array_sort(col("sh")).as("sh"), size(col("sh")).as("n"))
    // required overlap for the smaller set: α = ceil(t·n); prefix = n − α + 1
    val alpha = expr(s"CAST((n * $thresholdPct + 99) DIV 100 AS INT)")
    val prefixLen = col("n") - alpha + lit(1)
    val probe = sh.select(col("doc_id"), explode(slice(col("sh"), lit(1), prefixLen)).as("h"))
    val index = sh.select(col("doc_id"), explode(col("sh")).as("h"))
    val cand = probe.as("a")
      .join(index.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("da"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("db"))
      .dropDuplicates("da", "db")
    cand
      .join(sh.select(col("doc_id").as("da"), col("sh").as("sha"), col("n").as("na")), "da")
      .join(sh.select(col("doc_id").as("db"), col("sh").as("shb"), col("n").as("nb")), "db")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .withColumn("n_small", least(col("na"), col("nb")).cast("long"))
      .filter(col("inter") * 100 >= col("n_small") * thresholdPct)
      .withColumn("cont", col("inter").cast("double") / col("n_small"))
      .select(col("da"), col("db"), col("inter"), col("n_small"), col("cont"))
  }

  /** SimHash near-dup: 64-bit fingerprints, candidates blocked on 4×16-bit
    * segments (guaranteed recall for hamming ≤ 3), emitted with their hamming
    * distance ≤ 16 after verification on candidates. */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val fp = docs(spark, dir)
      .select(col("doc_id"), simhashUdf(tokensCol(col("text"))).as("fp"))
    val segments = array((0 until 4).map(i =>
      shiftrightunsigned(col("fp"), i * 16).bitwiseAND(lit(0xffffL))): _*)
    val seg = fp.select(col("doc_id"), col("fp"), posexplode(segments))
      .withColumnRenamed("pos", "seg").withColumnRenamed("col", "seg_val")
    val cand = seg.as("a")
      .join(seg.as("b"),
        col("a.seg") === col("b.seg") && col("a.seg_val") === col("b.seg_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        col("a.fp").as("fpa"), col("b.fp").as("fpb"))
      .dropDuplicates("da", "db")
    cand
      .withColumn("hamming", bit_count(col("fpa").bitwiseXOR(col("fpb"))))
      .filter(col("hamming") <= 16)
      .select(col("da"), col("db"), col("hamming"))
  }

  /** Large-star round (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14 §3): every node u links each STRICTLY LARGER neighbor to
    * the minimum of its closed neighborhood — long chains collapse
    * geometrically, and a hot hub's edges spread over the reducers of its
    * neighbors instead of one key. Output may contain duplicates; the round's
    * single `distinct` runs after [[smallStar]]. */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("a"), col("b"))
      .unionByName(edges.select(col("b").as("a"), col("a").as("b")))
    val mins = sym.groupBy("a").agg(least(min(col("b")), col("a")).as("m"))
    sym.join(mins, "a")
      .filter(col("b") > col("a"))
      .select(col("b").as("a"), col("m").as("b"))
  }

  /** Small-star round: edges are directed high→low; each high node links all
    * its smaller neighbors (and itself) to the smallest one. */
  private def smallStar(edges: DataFrame): DataFrame = {
    val dir = edges.select(
      greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
    val mins = dir.groupBy("u").agg(min(col("v")).as("m"))
    dir.join(mins, "u")
      .filter(col("v") =!= col("m"))
      .select(col("v").as("a"), col("m").as("b"))
      .unionByName(mins.select(col("u").as("a"), col("m").as("b")))
      .distinct()
  }

  /** Connected components over near-dup pairs → dedup clusters: every doc gets
    * the min doc_id reachable through the pair graph as its cluster id (the
    * "keeper"). Two regimes, both fault-tolerant (no `localCheckpoint`, no
    * driver-side iteration bookkeeping jobs):
    *
    *  - **Small pair sets** (≤ `collectThreshold`, default 2²⁰ pairs ≈ 16 MB):
    *    one bounded collect + driver union-find with path compression. The
    *    LSH candidate-pair set is orders of magnitude smaller than the corpus,
    *    so this is the common case and — like the IVF quantizer's driver-side
    *    k-means — a legitimate bounded index-build step, not a scan.
    *  - **Large pair sets**: alternating large-star/small-star (Kiveris et al.
    *    SoCC'14): O(log n) rounds regardless of component diameter,
    *    skew-resistant (a hub's edge list is never reduced on one key). Each
    *    round runs exactly ONE Spark action — the aggregate that materializes
    *    the persisted new edge set ALSO returns the fixed-point test
    *    (edge count + order-insensitive xxhash64 set digest unchanged, valid
    *    because the per-node attachment min only decreases), so there is no
    *    separate per-round convergence job. Rounds chain persisted DataFrames;
    *    at 100 TB swap the per-round persist for a stage-boundary write every
    *    few rounds — round count is O(log n), so lineage stays shallow.
    *
    * Both regimes are gated against each other and against a reference
    * union-find in DedupSimilaritySpec.
    */
  def clusters(pairs: DataFrame, maxIters: Int = 16,
               collectThreshold: Long = 1L << 20): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    var edges = pairs.select(col("da").as("a"), col("db").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .persist()
    var cached = edges // the persisted handle backing `edges`
    val init = edges.agg(
      count(lit(1)).as("n"),
      coalesce(sum(xxhash64(col("a"), col("b")).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")).as("dig")).head()
    var edgeCount = init.getLong(0)
    var digest = init.getDecimal(1)

    if (edgeCount <= collectThreshold) {
      // driver union-find over the (bounded) candidate pairs
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      val local = edges.as[(Long, Long)].collect()
      local.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val labels = local.iterator.flatMap { case (a, b) => Iterator(a, b) }
        .toSet[Long].toSeq.map(n => (n, find(n)))
      cached.unpersist()
      return labels.toDF("doc_id", "cluster_id")
    }

    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      // each star references `edges` several times, so chaining raw plans
      // would grow the logical tree ~5× per round; rebuilding the round result
      // as a fresh LogicalRDD over the CACHED rows keeps the plan O(1) per
      // round while staying recomputable (unlike localCheckpoint, nothing is
      // pinned to live executors — a lost block recomputes through the RDD
      // chain; at 100 TB, additionally checkpoint() to reliable storage every
      // few rounds to also bound that chain)
      val next = smallStar(largeStar(edges)).persist()
      // ONE action: materializes `next` into the cache AND returns the
      // fixed-point test. (count, sum-of-hashes) identical to the previous
      // round ⟺ identical sets here: attachments only ever decrease, so a
      // changed set with a colliding digest would need an exact hash-sum
      // collision inside a monotone step — not a practical concern, and the
      // final labels are additionally spec-gated against union-find.
      val stats = next.agg(
        count(lit(1)).as("n"),
        coalesce(sum(xxhash64(col("a"), col("b")).cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)")).as("dig")).head()
      val n = stats.getLong(0)
      val dig = stats.getDecimal(1)
      converged = n == edgeCount && dig == digest
      cached.unpersist()
      cached = next
      edges = spark.createDataFrame(next.rdd, next.schema) // plan cut, cache-backed
      edgeCount = n
      digest = dig
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"clusters() did not reach a star forest after $iter rounds — " +
          "pass a larger maxIters (rounds needed grow with log of the largest component)")
    // star forest → labels: attached nodes point at their root; roots label themselves
    val nodes = edges.select(col("a")).unionByName(edges.select(col("b").as("a"))).distinct()
    val attached = edges.groupBy(col("a").as("doc_id")).agg(min(col("b")).as("cluster_id"))
    val labels = nodes.select(col("a").as("doc_id"))
      .join(attached, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .persist()
    labels.count() // materialize so the round cache below can be released
    cached.unpersist()
    labels // cached result; callers running many cluster jobs unpersist when done
  }

  /** Dedup clusters of the MinHash-LSH near-dup graph: (doc_id, cluster_id)
    * for every doc in at least one near-dup pair; keeper = cluster_id.
    * `pairs` injects a pre-materialized pair table ([[CurationStages]]) so
    * the label stage can run off the written LSH output instead of
    * re-banding the corpus. */
  def nearDupClusters(spark: SparkSession, dir: String,
                      pairs: Option[DataFrame] = None): DataFrame =
    clusters(pairs.getOrElse(minhashLsh(spark, dir)))

  /** Quality-ranked canonical selection per near-dup cluster — what
    * production dedup actually keeps: not the minimum id but the BEST member
    * (here: most content, `n_chars` DESC, id as the deterministic tiebreak —
    * near-dup clusters routinely mix a full page with its truncated
    * re-crawls, and keeping the longest loses nothing). One row per cluster
    * with the canonical doc and the bytes the cluster folds away. Label join
    * is near-dup-sized (broadcastable); one cluster-keyed aggregate.
    *
    * Keeper = `max_by(struct)`, NOT `row_number` over a cluster window (the
    * q36/q69 de-skew rule applied to the cluster key): near-dup cluster
    * sizes are power-law, and at web scale one boilerplate/mirror-farm
    * cluster holds millions of members — a `Window.partitionBy(cluster_id)`
    * pins all of them onto one sorted reducer that AQE cannot split. The
    * ordering struct (n_chars, −doc_id) makes `max_by` pick exactly the row
    * the old rn=1 ranking kept (longest first, lowest id on ties); its
    * buffer is ONE struct per group regardless of group size, so the hot
    * cluster collapses map-side into one partial row per task. Row-for-row
    * equality with the windowed form plus the no-Window plan shape are
    * spec-gated (DedupSpec). */
  def canonicalPerCluster(spark: SparkSession, dir: String,
                          labels: Option[DataFrame] = None): DataFrame =
    canonicalPerClusterFrom(docs(spark, dir),
      labels.getOrElse(nearDupClusters(spark, dir)))

  /** Frame form of [[canonicalPerCluster]]: `d` needs (doc_id, n_chars),
    * `lbl` is (doc_id, cluster_id). */
  def canonicalPerClusterFrom(d: DataFrame, lbl: DataFrame): DataFrame =
    d.select(col("doc_id"), col("n_chars"))
      .join(lbl, "doc_id")
      .groupBy("cluster_id")
      .agg(
        max_by(struct(col("doc_id"), col("n_chars")),
          struct(col("n_chars"), negate(col("doc_id")))).as("k"),
        count(lit(1)).as("n_members"),
        sum(col("n_chars")).as("total_chars"))
      .select(col("cluster_id"), col("k.doc_id").as("canonical_doc_id"),
        col("k.n_chars").as("canonical_chars"), col("n_members"),
        col("total_chars"))

  /** The windowed form [[canonicalPerCluster]] replaced — kept ONLY as the
    * spec reference for the row-for-row equality gate (DedupSpec); never
    * call it on real data (unbounded cluster key on one reducer). */
  private[graft] def canonicalPerClusterWindowed(spark: SparkSession, dir: String,
                                                 labels: Option[DataFrame] = None): DataFrame = {
    val lbl = labels.getOrElse(nearDupClusters(spark, dir))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(col("n_chars").desc, col("doc_id"))
    docs(spark, dir).select(col("doc_id"), col("n_chars"))
      .join(lbl, "doc_id")
      .withColumn("rn", row_number().over(w))
      .groupBy("cluster_id")
      .agg(
        min(when(col("rn") === 1, col("doc_id"))).as("canonical_doc_id"),
        max(when(col("rn") === 1, col("n_chars"))).as("canonical_chars"),
        count(lit(1)).as("n_members"),
        sum(col("n_chars")).as("total_chars"))
  }

  /** Winnowing document fingerprints (rolling hash; Schleimer et al. SIGMOD'03):
    * per-doc compact fingerprint set for copy detection. */
  def winnowFingerprints(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), winnowUdf(col("text")).as("fps"))
      .select(col("doc_id"), size(col("fps")).as("n_fps"),
        array_min(col("fps")).as("min_fp"), array_max(col("fps")).as("max_fp"))

  /** Copy detection via winnowing: pairs whose fingerprint sets overlap by
    * ≥ `minOverlap` of the smaller set — the MOSS-style containment measure,
    * which (unlike Jaccard) also catches a short doc embedded in a long one.
    * Shape: explode on fingerprint, equi-join, verify on candidates only.
    * Candidate volume scales with gram selectivity; on low-entropy corpora
    * (like this synthetic vocab) shared 8-grams approach all-pairs, so the
    * query is key-capped like the other quadratic verifier paths — the
    * unbounded scale path for near-dup remains [[minhashLsh]]. */
  def winnowPairs(spark: SparkSession, dir: String, minOverlap: Double = 0.5): DataFrame = {
    val fps = docs(spark, dir)
      .filter(col("doc_id") < 500)
      .select(col("doc_id"), array_distinct(winnowUdf(col("text"))).as("fps"))
      .filter(size(col("fps")) > 0)
    val exploded = fps.select(col("doc_id"), explode(col("fps")).as("fp"))
    val shared = exploded.as("a")
      .join(exploded.as("b"), col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(fps.select(col("doc_id").as("da"), size(col("fps")).as("na")), "da")
      .join(fps.select(col("doc_id").as("db"), size(col("fps")).as("nb")), "db")
      .withColumn("containment", col("shared").cast("double") / least(col("na"), col("nb")))
      .filter(col("containment") >= minOverlap)
      .select(col("da"), col("db"), col("containment"))
  }

  /** Incremental ingestion dedup — the daily-delta shape of a corpus at
    * scale: a STREAM of newly crawled docs is admitted only if its content
    * fingerprint is (a) not already in the historical corpus (stream-static
    * left_anti join against the fingerprint store — re-read per micro-batch,
    * so a store refresh is picked up without restart) and (b) not already
    * seen earlier in the stream, including earlier in the same batch
    * (`dropDuplicates` on the fingerprint — keyed state store, exactly-once
    * across restarts via the checkpoint).
    *
    * State note: the in-stream dedup state grows with distinct new
    * fingerprints; a production deployment bounds it with
    * `dropDuplicatesWithinWatermark` (admission windows) or by folding the
    * stream store into the historical store between windows — both
    * mechanisms are spec-gated elsewhere (PipelinesSpec / A17). */
  def streamingIngest(newDocs: DataFrame, store: DataFrame): DataFrame =
    newDocs
      .withColumn("fingerprint", md5(col("text").cast("binary")))
      .join(store.select(col("fingerprint")), Seq("fingerprint"), "left_anti")
      .dropDuplicates("fingerprint")

  /** Batch analog of [[streamingIngest]], shaped for the oracle gate: the
    * corpus is split into a "historical store" (doc_id below max/3 — a
    * position where the fixture's duplicate texts exercise BOTH drop paths)
    * and an incoming batch; an incoming doc is admitted when its fingerprint
    * is absent from the store, first-occurrence-wins within the batch.
    * One anti-join shuffle + one fingerprint aggregate — at scale the store
    * side is the bucketed fingerprint index, not a parquet rescan. */
  def ingestDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("fingerprint"))
    val wm = d.agg(expr("max(doc_id) div 3").as("wm"))
    val withWm = d.crossJoin(broadcast(wm))
    val store = withWm.filter(col("doc_id") < col("wm")).select("fingerprint")
    withWm.filter(col("doc_id") >= col("wm"))
      .join(store, Seq("fingerprint"), "left_anti")
      .groupBy("fingerprint")
      .agg(min(col("doc_id")).as("admitted_doc_id"), count(lit(1)).as("batch_dup_ct"))
  }

  /** Incremental NEAR-dup admission — the companion of [[ingestDedup]] for
    * the fuzzier production reality: a newly crawled doc is rejected when it
    * is a near-duplicate (shingle-Jaccard ≥ 0.5) of any doc already in the
    * historical store. Cross-set MinHash-LSH: both sides band once,
    * candidates are only (store, batch) bucket collisions — never
    * store×store or batch×batch — and exact verification joins the shingle
    * arrays on candidates only. Emits the rejection evidence
    * (store_doc_id, batch_doc_id, jac); admitted batch = anti-join on this.
    * Store split = doc_id < max/3, matching [[ingestDedup]]. */
  def ingestNearDup(spark: SparkSession, dir: String): DataFrame = {
    val bands = 16
    val d = docs(spark, dir)
    val wm = d.agg(expr("max(doc_id) div 3").as("wm"))
    val withWm = d.crossJoin(broadcast(wm))
    def bandsOf(side: DataFrame) = side
      .select(col("doc_id"), posexplode(textBandsUdf(bands)(col("text"))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")
    val cand = bandsOf(withWm.filter(col("doc_id") < col("wm"))).as("a")
      .join(bandsOf(withWm.filter(col("doc_id") >= col("wm"))).as("b"),
        col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash"))
      .select(col("a.doc_id").as("store_doc_id"), col("b.doc_id").as("batch_doc_id"))
      .dropDuplicates("store_doc_id", "batch_doc_id")
    val hashes = d
      .select(col("doc_id"), shingleHashesUdf(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
    cand
      .join(hashes.select(col("doc_id").as("store_doc_id"), col("sh").as("sha")), "store_doc_id")
      .join(hashes.select(col("doc_id").as("batch_doc_id"), col("sh").as("shb")), "batch_doc_id")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jac",
        col("inter").cast("double") / (size(col("sha")) + size(col("shb")) - col("inter")))
      .filter(col("jac") >= 0.5)
      .select(col("store_doc_id"), col("batch_doc_id"), col("jac"))
  }

  /** Dedup-weighted corpus accounting — the dataset-card numbers a curated
    * release reports: every doc weighted by the inverse of its near-dup
    * cluster size (a page crawled five times contributes one page's worth),
    * rolled up per source. The honest answer to "how much UNIQUE data does
    * each source contribute", which raw doc/token counts overstate exactly
    * where crawling is most redundant. Weights are floor-quantized
    * (1048576 div cluster_size — integer division both engines share) so
    * the per-source sums are exact integers. Cluster labels are the
    * LSH-bounded [[nearDupClusters]]; label set is near-dup-sized, so the
    * weight join broadcasts; unclustered docs are singletons (full weight). */
  def dedupWeightedStats(spark: SparkSession, dir: String,
                         labels: Option[DataFrame] = None): DataFrame = {
    val lbl = labels.getOrElse(nearDupClusters(spark, dir))
    val sizes = lbl.groupBy("cluster_id").agg(count(lit(1)).as("csize"))
    val weighted = lbl.join(sizes, "cluster_id").select(col("doc_id"), col("csize"))
    docs(spark, dir)
      .select(col("doc_id"), col("source"),
        size(tokensCol(col("text"))).cast("long").as("token_ct"))
      .join(broadcast(weighted), Seq("doc_id"), "left")
      .withColumn("w_q", expr("cast(1048576 div coalesce(csize, 1) as bigint)"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("docs"),
        sum(col("w_q")).as("eff_docs_q"),
        sum(col("token_ct")).as("total_tokens"),
        sum(col("token_ct") * col("w_q")).as("eff_tokens_q"))
  }

  /** PageRank over the near-dup pair graph — centrality scoring of the
    * duplicate neighborhoods: a page many near-copies point at (the hub of a
    * mirror farm, the original behind a re-crawl cloud) accumulates rank,
    * which is the evidence a canonical-selection or crawler-priority pass
    * wants alongside [[canonicalPerCluster]]'s length heuristic.
    *
    * Integer-exact power iteration (5 damped rounds, d = 0.85): ranks are
    * scaled ×10⁶, each contribution is `(85·pr) div (100·deg)` — Java long
    * division ≡ DuckDB `//` on non-negatives — so the whole iteration
    * replays as unrolled SQL and the driver hash-compares exactly.
    *
    * Scale: the edge set is LSH-bounded (near-dup pairs only, never
    * all-pairs); edges+degrees persist once and each round is ONE shuffle
    * (contribution groupBy dst). Five rounds keep the lineage bounded; a
    * longer run would cut the plan per round exactly as [[clusters]] does. */
  def pagerankNearDup(spark: SparkSession, dir: String, iters: Int = 5,
                      pairTable: Option[DataFrame] = None): DataFrame = {
    val pairs = pairTable.getOrElse(minhashLsh(spark, dir)).select(col("da"), col("db"))
    val edges = pairs.select(col("da").as("src"), col("db").as("dst"))
      .union(pairs.select(col("db").as("src"), col("da").as("dst")))
    // persist BOTH static relations: deg feeds r0 and every round's node
    // frame, withDeg every round's contribution join — without the caches
    // each of the 5 rounds re-derives the whole LSH banding pipeline and the
    // final plan grows to ~500 nodes (observed before this fix)
    // both persists live until the caller materializes the returned frame
    // and the harness's per-query cache release runs (Bench/Verify clear
    // caches between queries; a long-lived session embedding this operator
    // owns the release) — unpersisting here would re-derive the LSH banding
    // pipeline in every iteration's contribution join
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg")).persist()
    val withDeg = edges.join(deg, "src").persist()
    var r = deg.select(col("src").as("doc_id"), lit(1000000L).as("pr"))
    for (_ <- 1 to iters) {
      val contrib = withDeg.join(r, withDeg("src") === r("doc_id"))
        .select(col("dst"), expr("(85 * pr) div (100 * deg)").as("share"))
        .groupBy("dst").agg(sum(col("share")).as("s"))
      r = deg.select(col("src").as("doc_id"))
        .join(contrib.withColumnRenamed("dst", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), (lit(150000L) + coalesce(col("s"), lit(0L))).as("pr"))
    }
    r
  }

  /** Corpus snapshot diff — the dataset-versioning audit between two releases
    * of the same corpus: per source, how many docs were added, removed,
    * changed (same doc_id, different content), or unchanged, and the net
    * token delta. The refresh counterpart of [[ingestDedup]]: ingest asks
    * "is this doc new", the diff asks "what happened between v1 and v2" —
    * the number a dataset card's changelog publishes.
    *
    * Scale design: each side reduces map-side to (doc_id, source,
    * fingerprint, token_ct) — the full text NEVER enters the shuffle — then
    * ONE full-outer join on doc_id (unique, uniformly distributed on both
    * sides: no skew possible) and a partially-aggregated per-source rollup.
    * Two scans, one join shuffle, at any corpus size. */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    def prep(side: DataFrame, p: String) = side.select(
      col("doc_id").as(s"${p}_id"), col("source").as(s"${p}_source"),
      md5(col("text").cast("binary")).as(s"${p}_fp"),
      bpeTokenCountCol(col("text")).cast("long").as(s"${p}_toks"))
    val both = col("o_id").isNotNull && col("n_id").isNotNull
    prep(oldDocs, "o")
      .join(prep(newDocs, "n"), col("o_id") === col("n_id"), "full_outer")
      .select(
        coalesce(col("n_source"), col("o_source")).as("source"),
        when(col("o_id").isNull, 1L).otherwise(0L).as("added"),
        when(col("n_id").isNull, 1L).otherwise(0L).as("removed"),
        when(both && col("o_fp") =!= col("n_fp"), 1L).otherwise(0L).as("changed"),
        when(both && col("o_fp") === col("n_fp"), 1L).otherwise(0L).as("unchanged"),
        (coalesce(col("n_toks"), lit(0L)) - coalesce(col("o_toks"), lit(0L)))
          .as("tok_delta"))
      .groupBy("source")
      .agg(sum("added").as("n_added"), sum("removed").as("n_removed"),
        sum("changed").as("n_changed"), sum("unchanged").as("n_unchanged"),
        sum("tok_delta").as("token_delta"))
  }

  /** q105 binding of [[corpusDiff]]: deterministic v1/v2 snapshots of the
    * documents table — v1 drops doc_id ≡ 4 (mod 5) (later "added"), v2 drops
    * doc_id ≡ 0 (mod 7) ("removed") and appends a revision marker to
    * doc_id ≡ 0 (mod 3) ("changed"); everything else is "unchanged". */
  def corpusDiffSnapshots(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val v1 = d.filter(pmod(col("doc_id"), lit(5)) =!= 4)
    val v2 = d.filter(pmod(col("doc_id"), lit(7)) =!= 0)
      .withColumn("text",
        when(pmod(col("doc_id"), lit(3)) === 0, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")))
    corpusDiff(v1, v2)
  }

  /** Bloom-prefiltered ingest dedup — the 100 TB serving shape of
    * [[ingestDedup]], same admission semantics by construction (q107 carries
    * q74's oracle VERBATIM, the scale-fallback house pattern of q94/q70): a
    * Bloom filter over the store's fingerprints is broadcast to the incoming
    * batch. Bloom filters have NO false negatives, so the split is lossless —
    * a batch row whose fingerprint misses the filter is DEFINITELY absent
    * from the store and is admitted with no join at all; only the
    * bloom-positive sliver (true duplicates + an fpp fraction of the novel
    * batch) needs exact verification. That verification is two BROADCAST
    * joins — a semi probe of the store by the candidate fingerprints, then an
    * anti join of the candidates against the confirmed matches — so the store
    * is only ever SCANNED (the sketch build + the semi probe), never
    * shuffled. [[ingestDedup]]'s plain anti-join hashes the FULL store's
    * fingerprints across the cluster every batch; here store-side shuffle
    * volume is zero at any store size, and the sketch build (a mergeable
    * partial aggregate, `BloomFilterAggregate`) is amortized in production by
    * maintaining the filter incrementally across batches instead of
    * rebuilding it per batch as this single-query binding must.
    *
    * Reference context: the admission problem is the batch face of the
    * reference's ingest chain (`app/dwd/BaseDBApp.java:39-48` filters the
    * CDC firehose before any stateful work) — the Bloom stage plays the role
    * its cheap validity predicate does: reject/admit the bulk of the stream
    * before anything expensive touches it. */
  def bloomIngestDedup(spark: SparkSession, dir: String, fpp: Double = 0.03): DataFrame =
    bloomIngestDedupFrom(docs(spark, dir), fpp)

  /** Frame form of [[bloomIngestDedup]]: `corpus` needs doc_id + text; the
    * store/batch split stays q74's `doc_id < max/3`. */
  def bloomIngestDedupFrom(corpus: DataFrame, fpp: Double = 0.03): DataFrame = {
    val spark = corpus.sparkSession
    val d = corpus
      .select(col("doc_id"), md5(col("text").cast("binary")).as("fingerprint"))
    val wm = d.agg(expr("max(doc_id) div 3").as("wm"))
    val withWm = d.crossJoin(broadcast(wm))
    val store = withWm.filter(col("doc_id") < col("wm")).select("fingerprint")
    val batch = withWm.filter(col("doc_id") >= col("wm"))
      .select(col("doc_id"), col("fingerprint"))
    // Sketch build: one distributed store scan collapsing to a constant-size
    // filter on the driver (bounded control-plane, like the quantizer
    // samples). Sizing by exact count keeps fpp honest; a production ingest
    // loop tracks the store cardinality incrementally instead of counting.
    val bloom = store.stat.bloomFilter("fingerprint", math.max(1L, store.count()), fpp)
    val bloomB = spark.sparkContext.broadcast(bloom)
    val maybeInStore = udf((fp: String) => bloomB.value.mightContainString(fp))
    val flagged = batch.withColumn("maybe_dup", maybeInStore(col("fingerprint")))
    val definiteNew = flagged.filter(!col("maybe_dup")).drop("maybe_dup")
    val candidates = flagged.filter(col("maybe_dup")).drop("maybe_dup")
    val matched = store.join(
      broadcast(candidates.select("fingerprint").distinct()),
      Seq("fingerprint"), "left_semi")
    val verifiedNew = candidates.join(broadcast(matched), Seq("fingerprint"), "left_anti")
    definiteNew.unionByName(verifiedNew)
      .groupBy("fingerprint")
      .agg(min(col("doc_id")).as("admitted_doc_id"), count(lit(1)).as("batch_dup_ct"))
  }

  /** PROBABILISTIC RECORD LINKAGE (q123) — entity resolution with
    * multi-pass blocking and Fellegi–Sunter-style additive field weights
    * [Fellegi & Sunter, JASA 1969; Christen, "Data Matching", 2012]: the
    * step that collapses one real-world entity spread across feeds (the
    * same customer ingested from two systems with a typo'd name) BEFORE any
    * per-entity aggregate is trusted. The reference's dim layer upserts on
    * exact `id` (DimSink); this is its fuzzy-identity generalization.
    *
    * Blocking (the scale move — candidate pairs, never all pairs):
    *  - pass 1: (nationkey, mktsegment, acctbal/100 bucket) — near-exact
    *    attribute agreement;
    *  - pass 2: (nationkey, last 3 name chars) — a name-suffix block that
    *    catches mid-string typos pass 1's value buckets miss.
    *  Passes UNION then `distinct` (a pair found by both scores once) —
    *  the standard multi-pass recall repair, each pass an equi-join on its
    *  block key: shuffle-partitioned, no quadratic stage. Block sizes are
    *  value-bounded (pass 1 ≈ uniform buckets; pass 2 = N/1000 per suffix —
    *  at larger corpora widen to 4+ suffix chars, the documented knob).
    *
    * Scoring, on candidates only: additive agreement weights — name edit
    * distance ≤ 2 (+50), nation equality (+15), segment (+10), balance
    * within 100.00 (+10, exact cents) — match iff ≥ 60, i.e. a near-name
    * plus at least one corroborating field. Integers end-to-end; Spark's
    * `levenshtein` = DuckDB's `levenshtein` (unit-cost edits) ⇒ full
    * oracle. */
  /** Linkage-attribute projection with side prefix `p`: input needs
    * (c_custkey, c_name, c_nationkey, c_mktsegment, cents) — shared with
    * the streaming registry ([[graft.streaming.EntityRegistry]]). */
  private[graft] def linkPrefixed(df: DataFrame, p: String): DataFrame =
    df.select(
      col("c_custkey").as(s"${p}_key"), col("c_name").as(s"${p}_name"),
      col("c_nationkey").as(s"${p}_nat"), col("c_mktsegment").as(s"${p}_seg"),
      col("cents").as(s"${p}_cents"))

  /** Customers projected to the linkage attributes (exact-cents balance). */
  private def linkSide(spark: SparkSession, dir: String, p: String): DataFrame =
    linkPrefixed(Tables.load(spark, dir, "customer")
      .withColumn("cents", floor(col("c_acctbal") * 100).cast("long")), p)

  /** Multi-pass blocked candidate pairs between sides `a` and `b` under
    * `cond` — pass 1 (nation, segment, balance bucket), pass 2 (nation,
    * name 3-suffix), unioned and deduped on the pair key. Each pass is an
    * EQUI-join on its block key; never all pairs. */
  private[graft] def linkCandidates(a: DataFrame, b: DataFrame,
                                    cond: org.apache.spark.sql.Column): DataFrame = {
    val pass1 = a.join(b, cond &&
      col("a_nat") === col("b_nat") && col("a_seg") === col("b_seg") &&
      floor(col("a_cents") / 10000) === floor(col("b_cents") / 10000))
    val pass2 = a.join(b, cond &&
      col("a_nat") === col("b_nat") &&
      substring(col("a_name"), -3, 3) === substring(col("b_name"), -3, 3))
    pass1.unionByName(pass2)
      .select(col("a_key"), col("b_key"), col("a_name"), col("b_name"),
        col("a_nat"), col("b_nat"), col("a_seg"), col("b_seg"),
        col("a_cents"), col("b_cents"))
      .dropDuplicates("a_key", "b_key")
  }

  /** Fellegi–Sunter-style additive agreement score on candidates. */
  private[graft] def linkScored(cand: DataFrame): DataFrame = cand
    .withColumn("lev", levenshtein(col("a_name"), col("b_name")))
    .withColumn("score",
      when(col("lev") <= 2, 50).otherwise(0) +
        when(col("a_nat") === col("b_nat"), 15).otherwise(0) +
        when(col("a_seg") === col("b_seg"), 10).otherwise(0) +
        when(abs(col("a_cents") - col("b_cents")) <= 10000, 10).otherwise(0))

  def recordLinkage(spark: SparkSession, dir: String,
                    matchThreshold: Int = 60): DataFrame =
    linkScored(linkCandidates(
      linkSide(spark, dir, "a"), linkSide(spark, dir, "b"),
      col("a_key") < col("b_key")))
      .filter(col("score") >= matchThreshold)
      .select(col("a_key"), col("b_key"), col("lev").cast("int").as("lev"),
        col("score").cast("int").as("score"))

  /** INCREMENTAL INGEST LINKAGE (q129) — [[recordLinkage]] as the
    * ingest-time operation a living entity registry actually runs (the
    * fuzzy-identity [[ingestDedup]]): each ARRIVING row is linked against
    * the STORED registry only (batch × store, never store × store — the
    * registry's internal pairs were resolved when ITS rows arrived), and
    * resolves to its best-scoring stored entity at the match threshold, or
    * to itself as a brand-new entity. Stand-in split: custkey ≡ 0 (mod 10)
    * arrives, the rest is the registry.
    *
    * Best-match selection is `max_by(struct(score, −lev, −b_key))` — one
    * bounded buffer per batch key, map-side combinable; NOT a window over
    * the candidate set (the q36/q78 de-skew rule: a hot batch key with many
    * registry candidates would pin a sorted reducer). Batch rows with no
    * blocked candidate never enter the join output and re-enter via the
    * left join with entity = self. */
  def ingestLinkage(spark: SparkSession, dir: String,
                    matchThreshold: Int = 60): DataFrame = {
    val a = linkSide(spark, dir, "a").filter(pmod(col("a_key"), lit(10)) === 0)
    val b = linkSide(spark, dir, "b").filter(pmod(col("b_key"), lit(10)) =!= 0)
    val best = linkScored(linkCandidates(a, b, lit(true)))
      .groupBy("a_key")
      .agg(max_by(struct(col("b_key"), col("lev"), col("score")),
        struct(col("score"), negate(col("lev")), negate(col("b_key")))).as("m"))
      .select(col("a_key"), col("m.b_key").as("b_key"),
        col("m.lev").as("lev"), col("m.score").as("score"))
    a.select(col("a_key").as("batch_key"))
      .join(best, col("batch_key") === col("a_key"), "left")
      .select(col("batch_key"),
        when(col("score") >= matchThreshold, col("b_key"))
          .otherwise(col("batch_key")).as("entity_key"),
        coalesce(col("score"), lit(0)).cast("int").as("best_score"),
        (coalesce(col("score"), lit(0)) >= matchThreshold).as("matched"))
  }

  /** ENTITY GROUPS (q130) — the resolution step over [[recordLinkage]]'s
    * match pairs: connected components (the q32 two-regime machinery) give
    * every customer a canonical `entity_id` = min custkey of its match
    * component; unmatched customers are their own entity. The match graph
    * is tiny relative to the population, so the label join broadcasts —
    * same shape as [[clusterSafeSplit]]'s label attach. Transitivity is
    * the POINT of components here: A≈B and B≈C land one entity even when
    * A–C alone would not have matched (the standard ER closure). */
  def entityGroups(spark: SparkSession, dir: String): DataFrame = {
    val matches = recordLinkage(spark, dir)
      .select(col("a_key").as("da"), col("b_key").as("db"))
    val lbl = clusters(matches)
      .select(col("doc_id").as("c_custkey"), col("cluster_id"))
    Tables.load(spark, dir, "customer").select(col("c_custkey"))
      .join(broadcast(lbl), Seq("c_custkey"), "left")
      .select(col("c_custkey"),
        coalesce(col("cluster_id"), col("c_custkey")).as("entity_id"))
  }

  /** CLUSTER-ATOMIC SPLIT ASSIGNMENT (q125) — the leakage-SAFE corpus cut:
    * q48 hashes each `doc_id` independently, so the two halves of a
    * near-dup pair can land in train AND test — exactly the contamination
    * q62 measures (its `leaky_pairs` column is nonzero on this corpus).
    * Here the split key is the near-dup CLUSTER: every member of a
    * component gets md5(cluster_id)'s split, so related docs move as one
    * atom and cross-split leakage through the near-dup relation is ZERO BY
    * CONSTRUCTION (not merely audited after the fact — Lee et al. 2022 and
    * the split-decontamination practice it codified).
    *
    * Shape: labels come from the q32 component machinery (LSH-bounded pair
    * graph → two-regime connected components); docs outside any pair are
    * their own singleton cluster (`coalesce(cluster_id, doc_id)`). The
    * label frame is near-dup-sized ⇒ the join broadcasts; split assignment
    * itself is one map-side md5 on the cluster key — same thresholds and
    * hex-compare convention as q48, so the two operators differ ONLY in
    * the hash key, which is the point. */
  def clusterSafeSplit(spark: SparkSession, dir: String): DataFrame = {
    val lbl = nearDupClusters(spark, dir)
    docs(spark, dir).select(col("doc_id"), col("lang"))
      .join(broadcast(lbl), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("h",
        substring(md5(col("cluster_id").cast("string").cast("binary")), 1, 4))
      .withColumn("split",
        when(col("h") < "1999", "val")
          .when(col("h") < "3333", "test")
          .otherwise("train"))
      .select(col("doc_id"), col("cluster_id"), col("split"))
  }

  /** CROSS-SOURCE OVERLAP MATRIX (q187) — the dedup-PLANNING diagnostic
    * run before committing to a cross-corpus dedup pass: for every source
    * pair, the exact distinct-3-gram-shingle intersection plus Jaccard and
    * containment (Broder's resemblance/containment pair, 1997). High
    * containment of a small source in a big one = mirror/subset (drop it);
    * high symmetric Jaccard = shared boilerplate (route to q69's span
    * dedup); near-zero everywhere = cross-source dedup is a waste of a
    * shuffle. The SOURCE-grain sibling of q105's corpus diff and q118's
    * audience overlap.
    *
    * Scale shape: one corpus scan to the (source, shingle) distinct; the
    * pair counts come from ONE self-equi-join on the shingle key — fan-out
    * per shingle is bounded by the SOURCE DOMAIN (≤ K(K−1)/2 pairs per
    * shingle, never corpus²) and the count agg is partial; per-source
    * sizes ride back as a broadcast K-row frame. At a billion-type shingle
    * space the exact join is still one shuffle of the type dictionary;
    * q118's sketch inclusion-exclusion is the cheaper first pass when only
    * triage is needed. */
  /** WITHIN-SOURCE REDUNDANCY (q196) — the INTERNAL-similarity companion
    * of [[sourceOverlap]]'s cross-source matrix: per source, the mean
    * pairwise shingle Jaccard among its OWN documents — a template-heavy
    * or boilerplate-stamped source scores high and is the q69/q26 dedup
    * passes' first target; a diverse source scores near zero. The
    * "internal redundancy" column of the mixing report (q195 says what a
    * source ADDS; this says how much of the source is itself).
    *
    * Scale discipline: exact all-pairs within a source is quadratic in its
    * doc count, so pairs form over a per-source BOUNDED sample — the
    * smallest `sampleK` md5 hashes via the k-bounded topK agg (the q184
    * sampling argument: the mean-Jaccard estimate's precision is set by
    * the pair count, not the corpus; K=32 gives 496 exact pairs/source).
    * Everything after the sample is control-plane: K·(K−1)/2 exact
    * array-intersections per source.
    *
    * Exact integers: per-pair jac_q = 2²⁰·|∩| div |∪|; the mean is the
    * integer mean of quantized pairs (documented: quantize-then-average,
    * exact to replay, within 2⁻²⁰·pairs of average-then-quantize). */
  def sourceRedundancy(spark: SparkSession, dir: String,
                       sampleK: Int = 32): DataFrame = {
    val d = redDocs(docs(spark, dir))
    val sampleIds = d.groupBy("source")
      .agg(graft.functions.Aggregators.topK(sampleK,
        negate(col("h")).cast("double"), col("doc_id"), col("doc_id")).as("top"))
      .select(col("source"), explode(expr("transform(top, s -> s.id)")).as("doc_id"))
    redundancyFrom(d.join(sampleIds, Seq("source", "doc_id"))
      .select(col("source"), col("doc_id"), col("shs")))
  }

  /** The q196 per-doc sampling frame (source, doc_id, h, shs): h is the
    * md5 sampling hash (pure function of doc_id, so any subset of the
    * corpus reproduces it) and shs the distinct 3-shingle set — factored so
    * the streaming maintainer ([[graft.streaming.RedundancyStream]]) hashes
    * its micro-batches with literally the batch operator's arithmetic. */
  private[graft] def redDocs(docFrame: DataFrame): DataFrame =
    docFrame
      .select(col("source"), col("doc_id"),
        distinctShinglesUdf(3)(col("text")).as("shs"))
      .withColumn("h",
        conv(substring(md5(concat(lit("red_"),
          col("doc_id").cast("string")).cast("binary")), 1, 13), 16, 10).cast("long"))

  /** The q196 pair walk from a (source, doc_id, shs) SAMPLE frame — shared
    * by the batch operator and the maintained read path. Bottom-k-by-md5
    * samples are MERGEABLE (k smallest of a union = k smallest of the
    * per-part k-smallest), so a maintained sample equals the batch sample
    * over everything absorbed, and this walk makes the reports equal too. */
  private[graft] def redundancyFrom(s: DataFrame): DataFrame = {
    val pairs = s.as("a").join(s.as("b"),
        col("a.source") === col("b.source") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.source").as("source"),
        size(array_intersect(col("a.shs"), col("b.shs"))).cast("long").as("inter"),
        (size(col("a.shs")) + size(col("b.shs"))).cast("long").as("szsum"))
      .withColumn("jac_q",
        when(col("szsum") - col("inter") > 0,
          expr("(inter * 1048576) div (szsum - inter)")).otherwise(lit(0L)))
    pairs.groupBy("source")
      .agg(count(lit(1)).as("n_pairs"), sum(col("jac_q")).as("jac_sum"))
      .withColumn("mean_jac_q", expr("jac_sum div n_pairs"))
      .select(col("source"), col("n_pairs"), col("mean_jac_q"))
  }

  def sourceOverlap(spark: SparkSession, dir: String): DataFrame =
    sourceOverlapFrom(docs(spark, dir)
      .select(col("source"), explode(distinctShinglesUdf(3)(col("text"))).as("sh")))

  /** The overlap-matrix walk over an arbitrary (source, sh) frame
    * (duplicates allowed — deduped internally) — shared by the batch
    * operator above and [[graft.streaming.MixtureStream.readOverlap]],
    * whose maintained first-seen shingle cells are this exact frame.
    * Returns a LOCAL-backed frame: the matrix is K²-bounded control plane
    * (the q181 argmax exception class).
    *
    * Shape (r17 — the q181 cell-closure move): a shingle contributes 1 to
    * |A∩B| for every source pair inside its SOURCE SET, so the
    * (sorted source-set → shingle count) closure is a sufficient
    * statistic for the whole matrix — sizes are per-source sums over
    * cells containing it, intersections per-pair sums over cells
    * containing both, and the exact-integer jaccard/containment
    * arithmetic replays verbatim driver-side (truncating Long division ≡
    * `div` on the non-negative operands). Replaces the vocab-sized
    * persist + sh self-join + two broadcast joins with ONE corpus-scale
    * shuffle (groupBy(sh) collect_set — which also dedups, so the caller
    * no longer pre-distincts) + a cell-sized collect; ≤ 2^K cells,
    * guarded as a named refusal (the FacilityStream budget discipline). */
  private[graft] def sourceOverlapFrom(st0: DataFrame,
                                       cellCap: Int = 100000): DataFrame = {
    val spark = st0.sparkSession
    import spark.implicits._
    // refuse BEFORE collecting (r18, ADVICE r17 #1 — the sourceSelectFrom
    // twin): the cell count is checked Spark-side off the persisted cell
    // frame so a too-wide source dimension refuses while the cells still
    // live on executors, instead of OOMing the driver ahead of the require.
    val cellsDf = st0.groupBy("sh")
      .agg(sort_array(collect_set(col("source"))).as("ss"))
      .groupBy("ss").agg(count(lit(1)).as("n"))
      .persist()
    // released on the refusal path too (ADVICE r18 #1)
    val cells = try {
      val nCells = cellsDf.count()
      require(nCells <= cellCap,
        s"sourceOverlap: $nCells source-combination cells exceed the " +
          s"$cellCap budget — shrink the source dimension upstream or raise " +
          "cellCap deliberately")
      cellsDf.as[(Seq[String], Long)].collect()
    } finally cellsDf.unpersist(blocking = false)
    val sizes = scala.collection.mutable.Map.empty[String, Long]
    val inter = scala.collection.mutable.Map.empty[(String, String), Long]
    cells.foreach { case (ss, nCell) =>
      ss.foreach(s => sizes.update(s, sizes.getOrElse(s, 0L) + nCell))
      for (i <- ss.indices; j <- (i + 1) until ss.length) {
        val k = (ss(i), ss(j)) // sort_array ⇒ ss(i) < ss(j)
        inter.update(k, inter.getOrElse(k, 0L) + nCell)
      }
    }
    val rows = inter.toSeq.map { case ((a, b), in) =>
      val (na, nb) = (sizes(a), sizes(b))
      (a, b, na, nb, in,
        in * 1048576L / (na + nb - in),
        in * 1048576L / math.min(na, nb))
    }
    rows.toDF("src_a", "src_b", "na", "nb", "inter",
      "jaccard_q", "containment_q")
  }
}
