package graft.operators

import graft.SparkSuite
import graft.functions.TextFns._
import org.apache.spark.sql.functions._

/** Gates for the single-pass text kernels that replace composable column
  * chains on hot paths: the kernel must be row-for-row identical to the
  * column version it replaces on real testdata.
  */
class TextOpsSpec extends SparkSuite {

  // class-level so the TypeTag-based encoder derivation sees through it
  private type PM = (String, Long, Double, Double, Double, Double, Option[Double], Boolean)

  test("bhFdr: matches a driver BH replay on real docs; step-up rejects below-threshold ranks; named degenerate errors") {
    import spark.implicits._
    // 1. exact driver replay on sf0.001
    val counts = graft.Tables.load(spark, sf0001, "documents")
      .groupBy("source").agg(
        count(lit(1)).as("n"),
        sum(when(col("n_chars") > 300, 1L).otherwise(0L)).as("passes"))
      .as[(String, Long, Long)].collect().toSeq
    val nn = counts.map(_._2).sum
    val xx = counts.map(_._3).sum
    val k = counts.size
    val phat = xx.toDouble / nn
    val zs = counts.map { case (s, n, x) =>
      val z = (x.toDouble / n - (xx - x).toDouble / (nn - n)) /
        math.sqrt(phat * (1.0 - phat) * (1.0 / n + 1.0 / (nn - n)))
      (s, n, x, z)
    }
    val ranked = zs.sortBy { case (s, _, _, z) => (-math.abs(z), s) }.zipWithIndex
      .map { case ((s, n, x, z), i) =>
        (s, n, x, z, i + 1, TextOps.bhZCrit(k, i + 1, 0.05)) }
    val istar = ranked.filter { case (_, _, _, z, i, c) => math.abs(z) >= c }
      .map(_._5).maxOption.getOrElse(0)
    val want = ranked
      .map { case (s, n, x, z, i, c) => (s, n, x, z, i, c, i <= istar) }.toSet
    val got = TextOps.bhFdr(spark, sf0001)
      .as[(String, Long, Long, Double, Int, Double, Boolean)].collect().toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
    // 2. the STEP-UP subtlety: with K = 2 the one-vs-rest z's are exact
    // mirrors (|z| equal), so rank 1 compares against the STRICTER
    // crit_1 and fails while rank 2 passes crit_2 — BH must reject BOTH.
    // |z| = 2.124 here sits between crit_2 = 1.96 and crit_1 = 2.241.
    val tie = Seq(("a", 100L, 60L), ("b", 100L, 45L)).toDF("source", "n", "passes")
    val out = TextOps.bhFdrFrom(tie)
      .as[(String, Long, Long, Double, Int, Double, Boolean)]
      .collect().toSeq.sortBy(_._5)
    assert(math.abs(out.head._4) < out.head._6,
      "fixture: rank 1 must fail its OWN threshold for the step-up to bite")
    assert(math.abs(out(1)._4) >= out(1)._6, "fixture: rank 2 passes its threshold")
    assert(out.forall(_._7), s"step-up must reject BOTH ranks: $out")
    // 3. a no-signal fixture rejects nothing (istar is empty)
    val flat = Seq(("a", 100L, 52L), ("b", 100L, 48L)).toDF("source", "n", "passes")
    assert(TextOps.bhFdrFrom(flat)
      .as[(String, Long, Long, Double, Int, Double, Boolean)]
      .collect().forall(!_._7), "near-identical rates must reject nothing")
    // 4. named degenerate errors
    val e1 = intercept[IllegalArgumentException] {
      TextOps.bhFdrFrom(Seq(("a", 10L, 5L)).toDF("source", "n", "passes"))
    }
    assert(e1.getMessage.contains("at least 2 sources"), e1.getMessage)
    // K = 0 (a maintained store whose only absorbed batches were empty)
    // must hit the same named require, not an NPE unboxing a null sum
    val e0 = intercept[IllegalArgumentException] {
      TextOps.bhFdrFrom(
        Seq.empty[(String, Long, Long)].toDF("source", "n", "passes"))
    }
    assert(e0.getMessage.contains("found 0"), e0.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      TextOps.bhFdrFrom(Seq(("a", 10L, 10L), ("b", 10L, 10L))
        .toDF("source", "n", "passes"))
    }
    assert(e2.getMessage.contains("degenerate global pass rate"), e2.getMessage)
    // 5. tie-break collation pin (round-16 ADVICE #3): with K = 2 the
    // one-vs-rest z's are EXACT mirrors (|z| tied), so rank assignment
    // falls entirely to the source tie-break — which must follow DuckDB's
    // UTF-8 BYTE order, not Java's UTF-16 code-unit order. The two invert
    // between supplementary-plane and U+E000..U+FFFF sources: U+1F600
    // (f0 9f 98 80) sorts AFTER U+E000 (ee 80 80) in bytes but BEFORE it
    // in code units (its high surrogate D83D < E000).
    val hi = new String(Character.toChars(0x1F600))
    val pua = "\uE000"
    assert(hi.compareTo(pua) < 0 && TextOps.utf8ByteOrdering.compare(hi, pua) > 0,
      "fixture: the two collations must actually diverge on this pair")
    val ranksUtf = TextOps.bhFdrFrom(
      Seq((hi, 100L, 60L), (pua, 100L, 45L)).toDF("source", "n", "passes"))
      .as[(String, Long, Long, Double, Int, Double, Boolean)]
      .collect().map(r => r._1 -> r._5).toMap
    assert(ranksUtf(pua) == 1 && ranksUtf(hi) == 2,
      s"on an |z| tie the UTF-8-lesser source must take rank 1, as " +
        s"DuckDB's ORDER BY would assign it: $ranksUtf")
  }

  test("powerMde: matches a driver replay on real docs; identities hold; zero-delta yields null n_req; named degenerate errors") {
    import spark.implicits._
    val got = TextOps.powerMde(spark, sf0001).as[PM].collect().toSeq.sortBy(_._1)
    // driver replay off the same counts
    val counts = graft.Tables.load(spark, sf0001, "documents")
      .groupBy("source").agg(
        count(lit(1)).as("n"),
        sum(when(col("n_chars") > 300, 1L).otherwise(0L)).as("passes"))
      .as[(String, Long, Long)].collect().toSeq
    val nn = counts.map(_._2).sum; val xx = counts.map(_._3).sum
    val phat = xx.toDouble / nn
    val zsum = TextOps.invNorm(0.975) + TextOps.invNorm(0.8)
    val want = counts.sortBy(_._1).map { case (s, n, x) =>
      val rate = x.toDouble / n
      val delta = rate - (xx - x).toDouble / (nn - n)
      val se = math.sqrt(phat * (1.0 - phat) * (1.0 / n + 1.0 / (nn - n)))
      val nReq = if (delta == 0.0) None
        else Some(math.ceil(zsum * zsum * (2.0 * phat * (1.0 - phat)) / (delta * delta)))
      (s, n, rate, delta, se, zsum * se, nReq, math.abs(delta) >= zsum * se)
    }
    assert(got == want, s"got=$got\nwant=$want")
    // identities: mde = zsum*se everywhere; powered ⟺ |delta| clears it;
    // a bigger sample (one-vs-rest) means a smaller per-source MDE
    assert(got.forall(r => r._6 == zsum * r._5))
    assert(got.forall(r => r._8 == (math.abs(r._4) >= r._6)))
    // zero observed delta: n_req must be NULL, not Infinity — every
    // source here has exactly its rest's rate (0.4 on both sides, the
    // same IEEE double from both divisions)
    val fix = Seq(("a", 100L, 40L), ("b", 100L, 40L), ("c", 200L, 80L))
      .toDF("source", "n", "passes")
    val z = TextOps.powerMdeFrom(fix).as[PM].collect().toSeq
    assert(z.forall(r => r._4 == 0.0 && r._7.isEmpty && !r._8),
      s"uniform rates must yield delta 0, null n_req, not powered: $z")
    // named degenerate errors — the guards are ONE shared preamble with
    // q201 (collectSourceCounts), so both cases are pinned here too
    val e = intercept[IllegalArgumentException] {
      TextOps.powerMdeFrom(Seq(("a", 10L, 5L)).toDF("source", "n", "passes"))
    }
    assert(e.getMessage.contains("at least 2 sources"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      TextOps.powerMdeFrom(Seq(("a", 10L, 0L), ("b", 10L, 0L))
        .toDF("source", "n", "passes"))
    }
    assert(e2.getMessage.contains("degenerate global pass rate"), e2.getMessage)
  }

  test("langIdFast kernel ≡ the composable column version on real docs") {
    val d = graft.Tables.load(spark, sf001, "documents")
    val mismatches = d
      .withColumn("kernel", langIdFastUdf(col("text")))
      .withColumn("cols", langIdCol(col("text")))
      .filter(col("kernel") =!= col("cols"))
      .count()
    assert(mismatches == 0, s"$mismatches docs where kernel != column langId")
  }

  test("tfidfTopTerms broadcasts the vocabulary side of the df join") {
    val plan = TextOps.tfidfTopTerms(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"df (vocabulary) join must broadcast, not shuffle the corpus:\n$plan")
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("balancedSample caps every language at the minority count") {
    val rows = TextOps.balancedSample(spark, sf001).collect()
    val kept = rows.map(_.getAs[Long]("kept_docs")).toSet
    assert(kept.size == 1, s"every lang keeps exactly K docs: $rows")
  }

  test("c4Stats kernel rules fire on synthesized failure cases") {
    // the fixture text never trips the blocklist or word-length rules, so
    // each rule is proven on a doc constructed to fail exactly that rule
    val stop30 = Array.fill(15)("the zebra").mkString(" ") // 30 words, has stopword
    assert(c4Stats(stop30)._1 == 30L)
    val cases = Seq(
      ("short the doc", "rule_min_words"),                          // < 30 words
      (Array.fill(30)("a").mkString(" "), "rule_word_len"),         // mean len 1 < 3
      (Array.fill(30)("zebra").mkString(" "), "rule_stopword"),     // no stopword
      (Array.fill(30)("the zebra").mkString(" ") + " lorem ipsum", "rule_no_blocklist"),
      ("the quick { brace", "rule_no_blocklist"))
    for ((text, rule) <- cases) {
      val (wc, cs, stop, t2, u2, blocked) = c4Stats(text)
      val flags = Map(
        "rule_min_words" -> (wc >= 30),
        "rule_word_len" -> (cs >= wc * 3 && cs <= wc * 10),
        "rule_stopword" -> stop,
        "rule_no_blocklist" -> !blocked)
      assert(!flags(rule), s"'$rule' should fail for: ${text.take(40)}")
    }
    // repetition: 'the zebra' * 15 alternates two tokens => 2 distinct 2-grams
    // out of 29 => dup fraction ~0.93 => rule fails
    val (_, _, _, t2, u2, _) = c4Stats(stop30)
    assert(t2 == 29L && u2 == 2L && !(u2 * 2 >= t2), "repetition rule must fire")
  }

  test("scrubCol redacts emails, IPv4s, and digit runs; pseudonym is stable") {
    import spark.implicits._
    val df = Seq(
      ("contact bob@example.com now", 1L, 0L, 0L),
      ("server at 10.0.42.7 port", 0L, 1L, 0L),
      ("account 123456789 flagged", 0L, 0L, 1L),
      ("clean text only", 0L, 0L, 0L)).toDF("raw", "e", "i", "d")
    val (ne, ni, nd, red) = TextOps.scrubCol(col("raw"))
    val rows = df.select(col("raw"), ne.as("ne"), ni.as("ni"), nd.as("nd"), red.as("red"),
      col("e"), col("i"), col("d")).collect()
    for (r <- rows) {
      assert(r.getAs[Int]("ne").toLong == r.getAs[Long]("e"), r.toString)
      assert(r.getAs[Int]("ni").toLong == r.getAs[Long]("i"), r.toString)
      assert(r.getAs[Int]("nd").toLong == r.getAs[Long]("d"), r.toString)
      val redacted = r.getAs[String]("red")
      assert(!redacted.contains("@"), s"email must be gone: $redacted")
      if (r.getAs[Long]("e") > 0)
        assert(redacted.contains("[EMAIL]"), s"email row must carry the tag: $redacted")
      assert(!redacted.contains("123456789"), s"digit run must be gone: $redacted")
      assert(!redacted.contains("10.0.42.7"), s"ip must be gone: $redacted")
    }
    // pseudonymization is deterministic and injective on distinct inputs
    val p = TextOps.piiScrub(spark, sf001).select("pseudonym").collect().map(_.getString(0))
    assert(p.toSet.size == p.length, "pseudonyms must be distinct per customer")
  }

  test("sequencePacking two-pass prefix sum ≡ the single-partition window") {
    import org.apache.spark.sql.expressions.Window
    val packed = TextOps.sequencePacking(spark, sf001, budget = 512L, partitions = 8)
    // the point of the op: the work actually ran on >1 partition
    assert(packed.rdd.getNumPartitions > 1)
    val d = graft.Tables.load(spark, sf001, "documents")
      .select(col("doc_id"), bpeTokenCountCol(col("text")).cast("long").as("n_tokens"))
      .withColumn("before",
        coalesce(sum("n_tokens").over(
          Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("doc_id"), col("n_tokens"),
        (col("before") / 512).cast("long").as("seq_id"),
        (col("before") % 512).as("seq_offset"),
        (col("before") % 512 + col("n_tokens") > 512).as("spans_boundary"))
    assert(packed.exceptAll(d).isEmpty && d.exceptAll(packed).isEmpty,
      "distributed packing must equal the window version row-for-row")
  }

  test("langIdFast CJK short-circuit and tiebreak order") {
    assert(langIdFast("今天 the weather") == "zh") // any CJK char wins
    assert(langIdFast("the le la") == "en")        // en >= others wins ties
    assert(langIdFast("xyz qrs") == "en")          // all-zero counts fall to en
    assert(langIdFast(null) == "fr")               // column version: all nulls → otherwise
  }

  test("spanDedup: exact-duplicate docs are fully duplicated and culled") {
    import spark.implicits._
    // sf0.1 is the smallest fixture with exact-duplicate texts (8 pairs)
    val sf01 = "/root/testdata/sf0.1"
    val dupIds = graft.Tables.load(spark, sf01, "documents")
      .groupBy("text").agg(collect_list("doc_id").as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(col("ids")).as("doc_id"))
      .as[Long].collect().toSet
    assert(dupIds.nonEmpty, "fixture must contain exact duplicates (q18 relies on them)")
    val rows = TextOps.spanDedup(spark, sf01)
      .filter(col("doc_id").isin(dupIds.toSeq: _*))
      .select(col("doc_id"), col("dup_frac"), col("cull")).collect()
    assert(rows.length == dupIds.size)
    rows.foreach { r =>
      assert(r.getDouble(1) == 1.0 && r.getBoolean(2),
        s"doc ${r.getLong(0)}: every span of an exact duplicate is shared")
    }
  }

  test("chunkDocs: chunks tile each doc with the configured overlap") {
    import spark.implicits._
    val chunks = TextOps.chunkDocs(spark, sf001)
      .select("doc_id", "chunk_idx", "start_tok", "chunk_len")
      .as[(Long, Int, Long, Long)].collect()
      .groupBy(_._1).values
    val nTok = graft.Tables.load(spark, sf001, "documents")
      .select(col("doc_id"), size(tokensCol(col("text"))).cast("long").as("n"))
      .as[(Long, Long)].collect().toMap
    chunks.foreach { cs =>
      val sorted = cs.sortBy(_._2)
      val n = nTok(sorted.head._1)
      assert(sorted.head._3 == 0L, "first chunk starts at token 0")
      assert(sorted.last._3 + sorted.last._4 == n, "last chunk ends at the last token")
      sorted.foreach { case (_, idx, start, len) =>
        assert(start == idx * 48L && len <= 64L && len > 0)
      }
      // every consecutive pair overlaps (stride 48 < chunk 64) or the doc fits one chunk
      sorted.sliding(2).filter(_.length == 2).foreach { pair =>
        assert(pair(1)._3 < pair(0)._3 + pair(0)._4, "consecutive chunks must overlap")
      }
    }
  }

  test("new-op plan shapes: fluency broadcasts its count table, spanDedup has no span-key window, chunking never shuffles") {
    val fluency = TextOps.bigramFluency(spark, sf0001).queryExecution.executedPlan.toString
    assert(fluency.contains("BroadcastHashJoin"),
      s"the vocabulary-bounded bigram count table must broadcast:\n$fluency")
    assert(!fluency.contains("SortMergeJoin"), fluency)
    // round-6 de-skew: the cross-doc span count must come from a
    // partial-aggregated groupBy + join-back, never a window over the span
    // key — a window pins every occurrence of a hot gram into one sorted
    // task and AQE cannot split it (VERDICT r5 "What's wrong" #2)
    val span = TextOps.spanDedup(spark, sf0001).queryExecution.executedPlan.toString
    assert(!span.contains("Window"),
      s"spanDedup must not window over the span key (hot-gram skew):\n$span")
    assert(span.contains("Join"),
      s"spanDedup joins the partial-aggregated span counts back:\n$span")
    val chunks = TextOps.chunkDocs(spark, sf0001).queryExecution.executedPlan.toString
    assert(!chunks.contains("Exchange"),
      s"chunking is per-row explode only, no shuffle:\n$chunks")
    // round 6: the exact-keeper step must not window over the fingerprint
    // key either (a web-scale boilerplate page = one hot fp) — min_by keeps
    // the keeper row in a bounded aggregation buffer instead
    val clean = TextOps.cleanCorpus(spark, sf0001).queryExecution.executedPlan.toString
    assert(!clean.contains("Window"),
      s"cleanCorpus must not window over the fingerprint key:\n$clean")
  }

  test("bigramFluencyPruned is EXACTLY bigramFluency for any prune below the rarity cutoff") {
    import spark.implicits._
    val exact = TextOps.bigramFluency(spark, sf001)
    // the lossless bound: every pruned bigram (ct < minCount) must already be
    // rare (1000·ct < Σc), i.e. minCount - 1 < Σc/1000
    val total = exact.agg(sum(col("n_bigrams"))).as[Long].head()
    // losslessness needs every pruned bigram already rare: (minCount-1)·1000
    // < Σc — require the fixture large enough for the strongest value tested
    // (minCount=16 ⇒ Σc > 15000), so a shrunk fixture fails loudly here
    // instead of as a spurious equality failure
    assert(total > 15000, s"fixture too small for the minCount=16 prune (Σc=$total)")
    for (minCount <- Seq(2L, 16L, total / 1000)) {
      val pruned = TextOps.bigramFluencyPruned(spark, sf001, minCount)
      assert(pruned.exceptAll(exact).isEmpty && exact.exceptAll(pruned).isEmpty,
        s"minCount=$minCount must be lossless (bound: ${total / 1000})")
    }
  }

  test("bigramFluencyPruned: a minCount violating the lossless precondition raises, never mis-scores") {
    // sf0.001's corpus has far fewer than (10^7-1)*1000 bigram occurrences,
    // so this minCount silently over-counts rares under the old code path
    val e = intercept[Exception] {
      TextOps.bigramFluencyPruned(spark, sf0001, minCount = 10000000L).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("lossless precondition")),
      s"guard message missing from: ${messages(e).mkString(" | ")}")
  }

  test("mixtureSample pre-filtered form equals the full-window construction at three budget regimes") {
    // default budget: the pre-filter genuinely bites (sliver of each source);
    // tiny budget: boundary at the very first draws; huge budget: every
    // source's total is under budget, so frac must clamp to 1.0 and the
    // doubling loop must terminate with the WHOLE source surviving
    for (budget <- Seq(1000L, 5L, 100000000L)) {
      val pre = TextOps.mixtureSample(spark, sf001, budget)
      val win = TextOps.mixtureSampleWindowed(spark, sf001, budget)
      assert(pre.exceptAll(win).isEmpty && win.exceptAll(pre).isEmpty,
        s"budget=$budget: pre-filtered sample must equal the exact windowed form")
    }
  }

  test("mixtureSample plan: hash-threshold pre-filter sits under the cumsum window") {
    val plan = TextOps.mixtureSample(spark, sf001).queryExecution.executedPlan.toString
    assert(plan.contains("Window"), "exact cumsum window must survive over the sliver")
    assert(plan.contains("frac"),
      s"per-source hash-rank threshold filter missing from the plan:\n${plan.take(1500)}")
  }

  test("vocabTopTerms topKStr form equals the per-lang window form row-for-row") {
    val agg = TextOps.vocabTopTerms(spark, sf001)
    val win = TextOps.vocabTopTermsWindowed(spark, sf001)
    assert(agg.columns.toSeq == win.columns.toSeq, "schema drift between forms")
    assert(agg.exceptAll(win).isEmpty && win.exceptAll(agg).isEmpty,
      "k-bounded vocab induction must reproduce the window ranking, rnk included")
    assert(!agg.queryExecution.executedPlan.toString.contains("Window"),
      "vocab top-k must not sort a language's whole vocabulary on one reducer")
  }

  test("balancedSample pre-filtered form equals the full-window form, incl. forced doubling") {
    // default safety, plus an absurdly small safety that guarantees the
    // initial fraction undershoots K and the sufficiency loop must double
    for (safety <- Seq(4.0, 0.01)) {
      val pre = TextOps.balancedSample(spark, sf001, safety)
      val win = TextOps.balancedSampleWindowed(spark, sf001)
      assert(pre.exceptAll(win).isEmpty && win.exceptAll(pre).isEmpty,
        s"safety=$safety: pre-filtered balanced sample must equal the windowed form")
    }
  }

  test("bpeMerges: greedy left-to-right overlap semantics on handcrafted runs") {
    import spark.implicits._
    // "aaaa"×2 + "bbbb": (a,a) counts 3 positions × ct 2 = 6 and merges
    // non-overlapping left-to-right (aaaa → [aa,aa], never [a,aa,a]); then
    // (b,b)=3 beats (aa,aa)=2; then (aa,aa) wins
    val got = TextOps.bpeMergesFrom(Seq("aaaa bbbb aaaa").toDF("text"), 3)
      .orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == Seq((1, "a", "a", 6L), (2, "b", "b", 3L), (3, "aa", "aa", 2L)), s"got $got")
    // tie + overlap: "ababa" has (a,b)=2 and (b,a)=2 — lexicographic
    // tiebreak picks (a,b); greedy re-seg gives [ab, ab, a], whose next
    // tie (ab,a)=1 vs (ab,ab)=1 again resolves lexicographically
    val got2 = TextOps.bpeMergesFrom(Seq("ababa").toDF("text"), 2)
      .orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got2 == Seq((1, "a", "b", 2L), (2, "ab", "a", 1L)), s"got $got2")
    // encoding half: after rounds (a,a), (b,b), (aa,aa) the word aaaa is a
    // single subword and bbbb is two — the distribution reflects both
    val enc = TextOps.bpeEncodeFrom(Seq("aaaa bbbb aaaa").toDF("text"), 3)
      .orderBy("n_subwords").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(enc == Seq((1, 1L, 2L), (2, 1L, 1L)), s"got $enc")
  }

  test("tokenizer/sampling operators keep the 100x plan shape: no Window, small sides broadcast") {
    // none of the round-7 additions may introduce an unbounded-key window;
    // their small sides (segmentation vocab, per-source thresholds, bucket
    // ratios) must reach the corpus as broadcasts
    val fert = TextOps.tokenizerFertility(spark, sf0001).queryExecution.executedPlan.toString
    assert(!fert.contains("Window"), "fertility must not window")
    assert(fert.contains("BroadcastHashJoin"), "segmentation vocab must broadcast")
    val temp = TextOps.temperatureSample(spark, sf0001).queryExecution.executedPlan.toString
    assert(!temp.contains("Window"), "temperature sampling must not window")
    assert(temp.contains("BroadcastHashJoin"), "per-source thresholds must broadcast")
    val dsir = TextOps.dsirSelect(spark, sf0001).queryExecution.executedPlan.toString
    assert(!dsir.contains("Window"), "dsir must not window")
    assert(dsir.contains("BroadcastHashJoin"), "bucket ratio table must broadcast")
  }

  test("dsirGate: batch-trained ratios gate a live stream doc-for-doc like dsirSelect") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    // the dsirSelect fixture — the sf0.001 synthetic corpus is uniform
    // enough that nothing clears the strict gate (batch parity would hold
    // trivially on empty sets)
    val tgtText = ("alpha " * 500 + "beta " * 500).trim
    val offText = ("gamma " * 500 + "delta " * 500).trim
    val d = Seq(
      (1L, tgtText, "tgt"), (2L, tgtText, "tgt"),
      (3L, offText, "other"), (4L, offText, "other"),
      (5L, "alpha beta", "mix"), (6L, "gamma delta", "mix")
    ).toDF("doc_id", "text", "source")
    val ratios = TextOps.dsirRatios(d, "tgt")
    assert(ratios.size == 256, "the serving model must cover every bucket")
    // aggregate parity: gate admissions per source == the oracled operator's
    // selected_docs
    val gateCounts = TextOps.dsirGate(d, ratios)
      .groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = TextOps.dsirSelectFrom(d, "tgt")
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(batch.values.sum > 0, "fixture must produce nonempty selections")
    assert(gateCounts == batch.filter(_._2 > 0),
      s"gate/batch divergence: gate $gateCounts vs batch $batch")
    // streaming execution: the same stage over a MemoryStream admits the
    // same doc ids (pure column stage — no state, no rewrite)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String, String)]
    ms.addData(d.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq)
    val q = TextOps.dsirGate(ms.toDF.toDF("doc_id", "text", "source"), ratios)
      .writeStream.format("memory").queryName("dsir_gate_out").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("dsir_gate_out")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val batchIds = TextOps.dsirGate(d, ratios)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed.nonEmpty && streamed == batchIds,
      s"stream admitted ${streamed.size}, batch ${batchIds.size}")
    assert(streamed == Set(1L, 2L, 5L), s"expected the target-like docs, got $streamed")
  }

  test("unigramLmScore: Viterbi DP equals a driver-side replay; short words yield no phantom pieces") {
    import spark.implicits._
    // "ab"/"x"/"cd" are shorter than the max piece length — the case where
    // Spark's sequence(1, 0) = [1, 0] (descending, not empty!) once minted
    // phantom truncated pieces and shifted every score
    val texts = Seq("ab abcd abcd cd", "ab x")
    val got = TextOps.unigramLmScoreFrom(texts.toDF("text")).collect()
      .map(r => (r.getInt(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val words = texts.flatMap(_.split(" ")).groupBy(identity)
      .map { case (w, ws) => w -> ws.size.toLong }
    val pieces = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    for ((w, ct) <- words; l <- 1 to 4; i <- 0 to w.length - l)
      pieces(w.substring(i, i + l)) += ct
    val tot = pieces.values.sum
    def ll(x: Long) = math.floor(math.log(x.toDouble) * 1048576.0).toLong
    val sc = pieces.map { case (p, c) => p -> (ll(c) - ll(tot)) }
    def best(w: String): Long = {
      val dp = Array.fill(w.length + 1)(Long.MinValue); dp(0) = 0L
      for (i <- 1 to w.length; k <- 1 to math.min(4, i))
        dp(i) = math.max(dp(i), dp(i - k) + sc(w.substring(i - k, i)))
      dp(w.length)
    }
    val exp = words.groupBy(_._1.length).map { case (len, ws) =>
      len -> ((ws.size.toLong, ws.values.sum,
        ws.map { case (w, ct) => ct * best(w) }.sum))
    }
    assert(got == exp, s"got $got exp $exp")
  }

  test("unigramLmPrune: usage equals a driver-side Viterbi-path replay; tie-break is smallest-k") {
    import spark.implicits._
    val texts = Seq("ab abcd abcd cd", "ab x", "abab abab baba")
    val got = TextOps.unigramLmPruneFrom(texts.toDF("text"), keep = 48).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getInt(3)))).toMap
    // independent replay: same model build, DP with explicit parent pointers
    val words = texts.flatMap(_.split(" ")).groupBy(identity)
      .map { case (w, ws) => w -> ws.size.toLong }
    val pieces = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    for ((w, ct) <- words; l <- 1 to 4; i <- 0 to w.length - l)
      pieces(w.substring(i, i + l)) += ct
    def ll(x: Long) = math.floor(math.log(x.toDouble) * 1048576.0).toLong
    val lTot = ll(pieces.values.sum)
    val sc = pieces.map { case (p, c) => p -> (ll(c) - lTot) }
    def seg(w: String): List[String] = {
      val dp = Array.fill(w.length + 1)(Long.MinValue); dp(0) = 0L
      val bk = new Array[Int](w.length + 1)
      for (i <- 1 to w.length; k <- 1 to math.min(4, i)) {
        val s = dp(i - k) + sc(w.substring(i - k, i))
        if (s > dp(i)) { dp(i) = s; bk(i) = k } // strict >: smallest k on ties
      }
      var p = w.length; var out = List.empty[String]
      while (p > 0) { out = w.substring(p - bk(p), p) :: out; p -= bk(p) }
      out
    }
    val usage = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    for ((w, ct) <- words; p <- seg(w)) usage(p) += ct
    val uTot = usage.values.sum
    val exp = usage.toSeq.sortBy { case (p, u) => (-u, p) }.take(48).zipWithIndex
      .map { case ((p, u), i) => p -> ((u, ll(u) - ll(uTot), i + 1)) }.toMap
    assert(got == exp, s"got $got\nexp $exp")
    // pieces must reassemble their words: segmentation is a partition
    words.keys.foreach(w => assert(seg(w).mkString == w))
  }

  test("dsirSelect: target-like docs pass the importance test, off-target docs fail") {
    import spark.implicits._
    // vocabularies hash to distinct buckets (alpha 2c, beta 98, gamma 05,
    // delta 63); counts are large enough that add-one smoothing over 256
    // buckets cannot flip the ratios: q(alpha)≈1.89 > 1 > q(gamma)≈0.002
    val tgtText = ("alpha " * 500 + "beta " * 500).trim
    val offText = ("gamma " * 500 + "delta " * 500).trim
    val d = Seq(
      (1L, "tgt", tgtText), (2L, "tgt", tgtText),
      (3L, "other", offText), (4L, "other", offText),
      (5L, "mix", "alpha beta"), (6L, "mix", "gamma delta")
    ).toDF("doc_id", "source", "text")
    val got = TextOps.dsirSelectFrom(d, targetSource = "tgt")
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      "tgt" -> ((2L, 2L, 2000L)),   // the target itself is maximally target-like
      "other" -> ((2L, 0L, 0L)),    // pure off-target never selected
      "mix" -> ((2L, 1L, 2L))),     // the alpha-beta doc selected, gamma-delta not
      s"got $got")
  }

  test("temperatureSample: exact membership vs a driver-side replay; sqrt share boosts small sources") {
    import spark.implicits._
    // 400-doc big source vs 16-doc small source: sqrt shares give the small
    // source fraction ≈ 1.04 (exercises the ≥1 all-pass clamp) and the big
    // source ≈ 0.21
    val rows = (0L until 400L).map(i => (i, "big", 10L)) ++
      (1000L until 1016L).map(i => (i, "small", 10L))
    val got = TextOps.temperatureSampleFrom(rows.toDF("doc_id", "source", "n_chars"), budget = 100)
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // driver replay with the identical arithmetic steps (sqrt → 2^20 floor
    // quantize → integer-normalizer double division → 52-bit hex threshold)
    val md = java.security.MessageDigest.getInstance("MD5")
    def md513(id: Long): String =
      md.digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(13)
    val n = Map("big" -> 400L, "small" -> 16L)
    val sq = n.map { case (s, c) => s -> math.floor(math.sqrt(c.toDouble) * 1048576).toLong }
    val sTot = sq.values.sum
    val thr = n.map { case (s, c) =>
      val t = math.floor((100L * sq(s)).toDouble / (sTot * c).toDouble * 4503599627370496L).toLong
      s -> (if (t >= 4503599627370496L) "ggggggggggggg" else f"$t%013x")
    }
    val kept = rows.filter { case (id, s, _) => md513(id) < thr(s) }
      .groupBy(_._2).map { case (s, rs) => s -> rs.size.toLong }
    assert(got.view.mapValues(_._2).toMap == kept, s"membership mismatch: got $got, replay $kept")
    assert(got("small")._2 == 16L, "fraction >= 1 must clamp to keep-all")
    val fracSmall = got("small")._2.toDouble / 16
    val fracBig = got("big")._2.toDouble / 400
    assert(fracSmall > fracBig, s"alpha<1 must boost the small source ($fracSmall vs $fracBig)")
  }

  test("quotaSample: bottom-k per stratum matches a driver replay; real truncation happens") {
    import spark.implicits._
    val md = java.security.MessageDigest.getInstance("MD5")
    def h52(id: Long): Long = java.lang.Long.parseLong(
      md.digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(13), 16)
    val d = graft.Tables.load(spark, sf0001, "documents")
      .select(col("lang").as[String], col("doc_id").as[Long])
      .collect()
    val want = d.groupBy(_._1).toSeq.flatMap { case (lang, rows) =>
      val sorted = rows.map(r => (h52(r._2), r._2)).sortBy(identity).take(64)
      sorted.zipWithIndex.map { case ((h, id), i) =>
        (lang, rows.length.toLong, i + 1, id, h) }
    }.toSet
    val got = TextOps.quotaSample(spark, sf0001)
      .as[(String, Long, Int, Long, Long)].collect().toSet
    assert(got == want)
    // the cap binds somewhere (otherwise this is just a projection)
    assert(d.groupBy(_._1).exists(_._2.length > 64),
      "fixture has no stratum over the cap")
    assert(got.groupBy(_._1).forall(_._2.size <= 64))
  }

  test("tokenizerFertility: handcrafted segmentation applied per source, integer micro units") {
    import spark.implicits._
    // merges learned on the union corpus: (a,a), (b,b), (aa,aa) — as the
    // bpeMerges spec proves; final seg: aaaa→[aaaa] (1), bbbb→[bb,bb] (2)
    val d = Seq(("aaaa bbbb aaaa", "A"), ("bbbb", "B")).toDF("text", "source")
    val got = TextOps.tokenizerFertilityFrom(d, 3)
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    // A: 3 word occurrences (aaaa×2 @1 subword, bbbb×1 @2) → 4 subwords,
    //    12 chars, fertility 4e6 DIV 3; B: bbbb×1 → 2 subwords
    assert(got == Seq(
      ("A", 3L, 4L, 12L, 1333333L),
      ("B", 1L, 2L, 4L, 2000000L)), s"got $got")
  }

  test("wordPieceMerges: likelihood argmax diverges from BPE's frequency argmax; ties lexicographic") {
    import spark.implicits._
    // "ab ab ab xy": BPE picks (a,b) with pc=3; WordPiece scores
    // (a,b)=3/(3·3)≈0.33 < (x,y)=1/(1·1)=1.0 and picks the RARE-symbol
    // pair — the exact divergence the likelihood objective exists for.
    // Round 2 then merges (a,b) (the only remaining pair).
    val wp = TextOps.wordPieceMergesFrom(Seq("ab ab ab xy").toDF("text"), 2)
      .orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4))).toSeq
    assert(wp == Seq(
      (1, "x", "y", 1L, 1000000000000000L),
      (2, "a", "b", 3L, 333333333333333L)), s"got $wp")
    val bpe = TextOps.bpeMergesFrom(Seq("ab ab ab xy").toDF("text"), 1)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(bpe == Seq(("a", "b")), s"BPE must take the frequency argmax, got $bpe")
    // exact score tie ("ab xy", every count 1): lexicographic pair order
    val tie = TextOps.wordPieceMergesFrom(Seq("ab xy").toDF("text"), 1)
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(4))).toSeq
    assert(tie == Seq(("a", "b", 1000000000000000L)), s"got $tie")
  }

  test("mixtureSample adversarial: zero-token sources and one-doc sources converge and stay exact") {
    import spark.implicits._
    // source "empty": 50 docs of zero tokens — the initial fraction estimate
    // is built from avg tokens/doc, which is degenerate here; the windowed
    // semantics keep ALL of them (cum stays 0 <= budget), so the pre-filter
    // loop must double all the way to frac=1.0 and terminate. source "one":
    // a single giant doc (cum > budget at rank 1 -> zero kept). source
    // "mix": normal docs.
    val rows =
      (1L to 50L).map(i => ("empty", i, "")) ++
      Seq(("one", 100L, Seq.fill(500)("tok").mkString(" "))) ++
      (200L to 260L).map(i => ("mix", i, s"alpha beta gamma delta epsilon zeta $i"))
    val d = rows.toDF("source", "doc_id", "text")
    val pre = TextOps.mixtureSampleFrom(d, budgetTokens = 40)
    val win = TextOps.mixtureSampleWindowedFrom(d, budgetTokens = 40)
    assert(pre.exceptAll(win).isEmpty && win.exceptAll(pre).isEmpty,
      "degenerate sources must not break pre-filter/window equality")
    val bySource = pre.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(bySource("empty") == (50L, 0L), s"all zero-token docs kept: $bySource")
    assert(!bySource.contains("one"), s"over-budget first draw keeps nothing: $bySource")
    assert(bySource.contains("mix"))
  }

  test("spanDedup join-back equals the round-5 window construction row-for-row") {
    val joined = TextOps.spanDedup(spark, sf001)
    val windowed = TextOps.spanDedupWindowed(spark, sf001)
    assert(joined.exceptAll(windowed).isEmpty && windowed.exceptAll(joined).isEmpty,
      "de-skewed spanDedup must be a pure plan change, not a semantic one")
  }

  test("curation map stages run UNCHANGED on a stream, identical to batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // the batch/streaming unification claim, proven: the same Column
    // transforms (classifier scoring + PII scrub) applied to a readStream
    // produce byte-identical rows to the batch run — map stages need no
    // streaming rewrite at all
    val rows = Seq(
      (1L, "contact me at bob@example.com or 10.0.0.1"),
      (2L, "spark join join table scan window agg the a of"),
      (3L, "id 123456789 spark window"))
    def curate(df: org.apache.spark.sql.DataFrame) = {
      val (ne, ni, nd, red) = TextOps.scrubCol(lower(col("text")))
      df.select(col("doc_id"),
        graft.functions.TextFns.classifierScoreUdf(
          graft.functions.TextFns.tokensCol(col("text"))).as("score"),
        ne.cast("long").as("n_email"), ni.cast("long").as("n_ip"),
        nd.cast("long").as("n_id"), red.as("redacted"))
    }
    val batch = curate(rows.toDF("doc_id", "text")).collect().map(_.toSeq).toSet
    val ms = MemoryStream[(Long, String)]
    val q = curate(ms.toDS().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("curate_stream").outputMode("append").start()
    try {
      ms.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("curate_stream").collect().map(_.toSeq).toSet
      assert(streamed == batch, "stream and batch outputs must be identical")
      assert(batch.exists(_.toString.contains("[EMAIL]")))
    } finally q.stop()
  }

  test("perplexityBuckets: balanced terciles, head genuinely more fluent than tail") {
    import spark.implicits._
    val out = TextOps.perplexityBuckets(spark, sf001)
      .as[(Long, Long, Long, String)].collect()
    val n = out.length
    assert(n == graft.Tables.load(spark, sf001, "documents").count())
    val sizes = out.groupBy(_._4).map { case (b, r) => b -> r.length }
    assert(sizes.keySet == Set("head", "middle", "tail"))
    // exact percentile cutoffs give near-equal terciles (ties may skew a bit)
    assert(sizes.values.forall(s => math.abs(s - n / 3) <= n / 10), sizes.toString)
    // the split is meaningful: mean per-bigram probability strictly ordered
    def meanAvg(b: String): Double = {
      val rs = out.filter(r => r._4 == b && r._2 > 0)
      rs.map(r => r._3.toDouble / r._2).sum / rs.length
    }
    assert(meanAvg("head") > meanAvg("middle") && meanAvg("middle") > meanAvg("tail"),
      s"head ${meanAvg("head")}, middle ${meanAvg("middle")}, tail ${meanAvg("tail")}")
  }

  test("tokenDrift: matches a driver-side chi-square recomputation") {
    import spark.implicits._
    val out = TextOps.tokenDrift(spark, sf001)
      .as[(String, Long, Long, Long, Int)].collect().sortBy(_._5)
    assert(out.length == 20)
    assert(out.map(_._5).toSeq == (1 to 20))
    assert(out.map(_._4).toSeq == out.map(_._4).sorted.reverse.toSeq, "contributions descend")
    // independent recount in the driver
    val docs = graft.Tables.load(spark, sf001, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    val wm = docs.map(_._1).max / 3
    def counts(p: Long => Boolean) = docs.filter(d => p(d._1))
      .flatMap(d => "[a-z0-9]+".r.findAllIn(d._2.toLowerCase))
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val st = counts(_ < wm); val bt = counts(_ >= wm)
    val vocab = (st.keySet ++ bt.keySet).size
    val stTot = st.values.sum; val bTot = bt.values.sum
    val expect = (st.keySet ++ bt.keySet).toSeq.map { t =>
      val (s, b) = (st.getOrElse(t, 0L), bt.getOrElse(t, 0L))
      val e = (s + 1).toDouble / (stTot + vocab) * bTot
      (t, s, b, math.floor((b - e) * (b - e) / e * 1048576).toLong)
    }.sortBy(r => (-r._4, r._1)).take(20)
    assert(out.map(r => (r._1, r._2, r._3, r._4)).toSeq == expect,
      "top-20 drift contributions must match the driver recomputation")
  }

  test("classifierFilter: consistent with the hashEmbedDocs-route composition") {
    import spark.implicits._
    val direct = TextOps.classifierFilter(spark, sf001)
      .select("doc_id", "score").as[(Long, Long)].collect().toMap
    // independent composition: q83's dense feature rows x the weight vector
    val viaFeatures = TextOps.hashEmbedDocs(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1)
      .map { case (id, rows) =>
        id -> rows.map(r => graft.functions.TextFns.classifierWeights(r._2) * r._3).sum
      }
    assert(direct == viaFeatures, "the two inference compositions must agree")
    // the stand-in weights actually separate: both classes present
    val keeps = TextOps.classifierFilter(spark, sf001)
      .select("keep").as[Boolean].collect()
    assert(keeps.contains(true) && keeps.contains(false))
  }

  test("cdcChunks: exact partition of every doc; boundaries resist shifts") {
    import spark.implicits._
    val docs = graft.Tables.load(spark, sf001, "documents")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    val chunks = TextOps.cdcChunks(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))
    // chunks reassemble each doc exactly (contiguous, in seg_idx order)
    chunks.groupBy(_._1).foreach { case (id, segs) =>
      val ordered = segs.sortBy(_._2)
      val text = docs(id)
      assert(ordered.head._3 == 1)
      ordered.sliding(2).foreach {
        case Array(a, b) => assert(a._3 + a._4 == b._3, s"doc $id gap at seg ${b._2}")
        case _ =>
      }
      assert(ordered.map(_._4).sum == text.length, s"doc $id lengths don't cover")
    }
    // CDC property: prepending text only disturbs the leading chunk(s) —
    // the tail chunk contents (and so their fingerprints) re-sync
    val sample = docs.toSeq.sortBy(_._1).map(_._2).find(_.length > 200).get
    def texts(s: String) = graft.functions.TextFns.cdcSegments(s)
      .map { case (st, ln) => s.substring(st - 1, st - 1 + ln) }
    val orig = texts(sample)
    val shifted = texts("PREPENDED CONTENT " + sample)
    val common = orig.toSet.intersect(shifted.toSet).size
    assert(common >= orig.size - 2,
      s"only $common of ${orig.size} chunks survive a prefix insertion")
  }

  test("bm25Search: agrees with a driver-computed Lucene-style BM25 reference") {
    import spark.implicits._
    val out = TextOps.bm25Search(spark, sf001)
      .select("query", "doc_id", "rnk")
      .as[(String, Long, Int)].collect()
    val byQ = out.groupBy(_._1)
    assert(byQ.keySet == Set("q1", "q2", "q3"))
    byQ.values.foreach(rows =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length), "ranks dense"))
    // driver-side STANDARD BM25 (Lucene idf = ln(1 + ratio), float sums) —
    // the raw-ratio engine variant must track it closely despite the
    // documented idf divergence
    val docs = graft.Tables.load(spark, sf001, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, t) => id -> "[a-z0-9]+".r.findAllIn(t.toLowerCase).toSeq }
    val queries = Map(
      "q1" -> Seq("spark", "join"), "q2" -> Seq("table", "scan"),
      "q3" -> Seq("window", "agg"))
    val n = docs.length
    val avgdl = docs.map(_._2.length).sum.toDouble / n
    val tf = docs.map { case (id, ts) =>
      id -> ts.groupBy(identity).map { case (k, v) => k -> v.size } }.toMap
    val terms = queries.values.flatten.toSet
    val df = terms.map(t => t -> docs.count(d => tf(d._1).getOrElse(t, 0) > 0)).toMap
    def ref(id: Long, q: String): Double = queries(q).map { t =>
      val f = tf(id).getOrElse(t, 0)
      if (f == 0) 0.0
      else {
        val idf = math.log(1.0 + (2.0 * (n - df(t)) + 1) / (2.0 * df(t) + 1))
        val dl = docs.find(_._1 == id).get._2.length
        idf * (f * 2.2) / (f + 1.2 * (0.25 + 0.75 * (dl / avgdl)))
      }
    }.sum
    queries.keys.foreach { q =>
      val refTop = docs.map(_._1).sortBy(id => (-ref(id, q), id)).take(10).toSet
      val gotTop = byQ(q).map(_._2).toSet
      val overlap = refTop.intersect(gotTop).size
      assert(overlap >= 8, s"$q: top-10 overlap $overlap vs ln(1+ratio) reference")
    }
  }

  test("sourceQuota: caps every source, prefers accept-band docs, ranks densely") {
    import spark.implicits._
    val cap = 15
    val out = TextOps.sourceQuota(spark, sf001, cap)
      .select("source", "doc_id", "token_ct", "rnk")
      .as[(String, Long, Long, Int)].collect()
    val bySrc = out.groupBy(_._1)
    assert(bySrc.nonEmpty)
    // every source emits at most cap docs with ranks exactly 1..n
    bySrc.foreach { case (src, rows) =>
      assert(rows.length <= cap, s"$src over cap")
      assert(rows.map(_._4).sorted.toSeq == (1 to rows.length), s"$src ranks not dense")
    }
    // the cap bites on this fixture (25 docs/source at sf0.01)
    assert(bySrc.values.exists(_.length == cap), "fixture should have a source at the cap")
    // quality preference: no kept non-accept-band doc may displace an unkept
    // accept-band doc of the same source
    val all = graft.Tables.load(spark, sf001, "documents")
      .withColumn("toks", graft.functions.TextFns.tokensCol(col("text")))
      .withColumn("token_ct", size(col("toks")))
      .withColumn("good", col("token_ct").between(30, 400) &&
        graft.functions.TextFns.stopwordRatioFromToks(col("toks")) <= lit(0.5))
      .select(col("source"), col("doc_id"), col("good"))
      .as[(String, Long, Boolean)].collect()
    val keptIds = out.map(r => (r._1, r._2)).toSet
    all.groupBy(_._1).foreach { case (src, ds) =>
      val unkeptGood = ds.exists(d => d._3 && !keptIds((src, d._2)))
      val keptBad = ds.exists(d => !d._3 && keptIds((src, d._2)))
      assert(!(unkeptGood && keptBad), s"$src: a non-band doc displaced a band doc")
    }
  }

  test("mixtureSample: every source stays within budget and is maximal") {
    import spark.implicits._
    val budget = 1000L
    val kept = TextOps.mixtureSample(spark, sf001, budget)
      .select("source", "kept_docs", "kept_tokens")
      .as[(String, Long, Long)].collect()
      .map { case (s, d, t) => s -> (d, t) }.toMap
    assert(kept.nonEmpty && kept.values.forall(_._2 <= budget))
    // maximality: re-derive the per-source md5-rank order and check the next
    // undrawn doc would overflow the budget
    val perDoc = graft.Tables.load(spark, sf001, "documents")
      .withColumn("h", md5(col("doc_id").cast("string").cast("binary")))
      .withColumn("n_tokens", bpeTokenCountCol(col("text")).cast("long"))
      .select(col("source"), col("h"), col("doc_id"), col("n_tokens"))
      .as[(String, String, Long, Long)].collect()
      .groupBy(_._1)
    perDoc.foreach { case (src, ds) =>
      val inOrder = ds.sortBy(d => (d._2, d._3)).map(_._4)
      val (nKept, tKept) = kept.getOrElse(src, (0L, 0L))
      assert(inOrder.take(nKept.toInt).sum == tKept, s"$src: kept tokens mismatch")
      if (nKept < ds.size)
        assert(tKept + inOrder(nKept.toInt) > budget, s"$src: draw stopped early")
    }
  }

  test("gopherQuality: crafted docs trip each rule; flags equal an independent driver replay") {
    import spark.implicits._
    // the synthetic corpus has no newlines, bullets, ellipses, '#', or
    // non-alpha words, so the line/symbol/alpha rules only vary HERE
    val base = (1 to 60).map(n => s"word$n").mkString(" ")
    val fixtures = Seq(
      0L -> s"the a $base",                                   // keep
      1L -> ("the a " + "tiny " * 10).trim,                   // word count < 50
      2L -> ("the a " + (1 to 60).map(n => s"w$n").mkString(" ")), // mean word len < 3
      3L -> base,                                             // no required stopwords
      4L -> ("the a " + "# " * 8 + base),                     // symbol ratio > 1/10
      5L -> ("- bullet\n" * 19 + s"the a $base"),             // >90% bullet lines
      6L -> ("trailing dots...\n" * 10 + s"the a $base\nx"),  // >30% ellipsis lines
      7L -> ("the a " + "same pair " * 40).trim,              // top-2-gram mass > 1/5 chars
      8L -> "",                                               // empty text
      9L -> "the a 111 222 333 444")                          // <80% alphabetic words
    val stops = Seq("the", "a")

    def replay(text: String): Map[String, Boolean] = {
      val toks = "[a-z0-9]+".r.findAllIn(text.toLowerCase).toVector
      val words = toks.size.toLong
      val chars = toks.map(_.length.toLong).sum
      val alpha = toks.count(_.exists(c => c >= 'a' && c <= 'z')).toLong
      val stopCt = stops.count(toks.contains).toLong
      val symbols = text.count(_ == '#').toLong + "\\.\\.\\.".r.findAllIn(text).size
      val lines = text.split("\n", -1)
      val bullet = lines.count(l => "^[ \t]*[-*•]".r.findFirstIn(l).isDefined).toLong
      val ell = lines.count(l => "\\.\\.\\.[ \t]*$".r.findFirstIn(l).isDefined).toLong
      val mass =
        if (words < 2) 0L
        else toks.sliding(2).toVector.groupBy(identity)
          .map { case (g, o) => o.size.toLong * (g.mkString(" ").length - 1) }.max
      Map(
        "rule_word_count" -> (words >= 50 && words <= 100000),
        "rule_word_len" -> (chars >= words * 3 && chars <= words * 10),
        "rule_alpha" -> (alpha * 5 >= words * 4),
        "rule_stopwords" -> (stopCt >= 2),
        "rule_symbol" -> (symbols * 10 <= words),
        "rule_lines" -> (bullet * 10 <= lines.length * 9 && ell * 10 <= lines.length * 3),
        "rule_top_gram" -> (mass * 5 <= chars))
    }

    val ruleCols = Seq("rule_word_count", "rule_word_len", "rule_alpha",
      "rule_stopwords", "rule_symbol", "rule_lines", "rule_top_gram")
    val got = TextOps.gopherQualityFrom(
        fixtures.toDF("doc_id", "text"), requiredStops = stops)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (ruleCols.map(c => c -> r.getAs[Boolean](c)).toMap, r.getAs[Boolean]("keep")))
      .toMap
    fixtures.foreach { case (id, text) =>
      val exp = replay(text)
      assert(got(id)._1 == exp, s"doc $id flags diverge from replay")
      assert(got(id)._2 == exp.values.forall(identity), s"doc $id keep")
    }
    // each crafted failure trips its intended rule (and doc 0 trips none)
    assert(got(0L)._2, "doc 0 must pass every rule")
    val expectFail = Map(1L -> "rule_word_count", 2L -> "rule_word_len",
      3L -> "rule_stopwords", 4L -> "rule_symbol", 5L -> "rule_lines",
      6L -> "rule_lines", 7L -> "rule_top_gram", 9L -> "rule_alpha")
    expectFail.foreach { case (id, rule) =>
      assert(!got(id)._1(rule), s"doc $id must fail $rule")
    }
    assert(!got(8L)._2, "empty doc must not be kept")
  }

  test("gopherRepetition: masses equal an independent replay; crafted docs trip top-n and dup-n") {
    import spark.implicits._
    // the corpus never trips the dup-n rules (docs too short for repeated
    // 5..10-grams) — they only vary here
    val fixtures = Seq(
      0L -> (1 to 80).map(n => s"word$n").mkString(" "),       // all-unique: keep
      1L -> ("x y " * 50).trim,                                // top-2 saturated
      2L -> (("alpha beta gamma delta epsilon " * 8).trim +    // dup-5 (and larger)
        " closing words without repeats"),
      3L -> "short",                                           // < every n
      4L -> "")                                                // empty
    def replay(text: String): Seq[Long] = {
      val toks = "[a-z0-9]+".r.findAllIn(text.toLowerCase).toVector
      val chars = toks.map(_.length.toLong).sum
      chars +: (2 to 10).map { n =>
        if (toks.size < n) 0L
        else {
          val counts = toks.sliding(n).toVector.groupBy(identity).toVector
            .map { case (g, o) => (o.size.toLong, g.map(_.length).sum.toLong) }
          if (n <= 4) counts.map { case (ct, cl) => ct * cl }.max
          else counts.collect { case (ct, cl) if ct >= 2 => ct * cl }.sum
        }
      }
    }
    val massCols = "char_sum" +: TextOps.RepetitionThresholds.map(t => s"mass_${t._1}")
    val got = TextOps.gopherRepetitionFrom(fixtures.toDF("doc_id", "text"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (massCols.map(c => r.getAs[Long](c)),
          TextOps.RepetitionThresholds.map(t => r.getAs[Boolean](s"rule_${t._1}")),
          r.getAs[Boolean]("keep"))).toMap
    fixtures.foreach { case (id, text) =>
      assert(got(id)._1 == replay(text), s"doc $id masses diverge from replay")
    }
    assert(got(0L)._3, "unique-word doc must pass every rule")
    assert(!got(1L)._2.head, "doc 1 must fail rule_top_2")
    assert(!got(2L)._2(3), "doc 2 must fail rule_dup_5")
    assert(got(3L)._3 && got(4L)._3, "sub-n and empty docs trip nothing")
  }

  test("knScore: driver-side BigInt Kneser-Ney replay; unseen-bigram backoff fires on batch docs") {
    val d = graft.Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def grams(text: String): Map[String, Long] =
      "[a-z0-9]+".r.findAllIn(text.toLowerCase).toVector.sliding(2)
        .filter(_.size == 2).map(_.mkString(" ")).toVector
        .groupBy(identity).map { case (g, o) => g -> o.size.toLong }
    val wm = d.keys.max / 3
    val corpus = d.filter(_._1 < wm).values.map(grams)
      .foldLeft(Map.empty[String, Long]) { (acc, m) =>
        m.foldLeft(acc) { case (a, (g, c)) => a.updated(g, a.getOrElse(g, 0L) + c) } }
    val marg = corpus.groupBy(_._1.split(' ')(0))
      .map { case (w1, m) => w1 -> (m.values.sum, m.size.toLong) }
    val cont = corpus.groupBy(_._1.split(' ')(1)).map { case (w2, m) => w2 -> m.size.toLong }
    val ctot = BigInt(corpus.size)
    def q(g: String, c12: Option[Long]): BigInt = {
      val Array(w1, w2) = g.split(' ')
      val cw2 = BigInt(cont.getOrElse(w2, 0L))
      marg.get(w1) match {
        case Some((c1, n1p)) =>
          (BigInt(1048576) * ((BigInt(4) * BigInt(c12.getOrElse(0L)) - 3).max(0) * ctot
            + BigInt(3) * BigInt(n1p) * cw2)) / (BigInt(4) * BigInt(c1) * ctot)
        case None => (BigInt(1048576) * cw2) / ctot
      }
    }
    val expect = d.map { case (id, text) =>
      val g = grams(text)
      val knSum = g.map { case (gr, tf) => BigInt(tf) * q(gr, corpus.get(gr)) }.sum
      val oov = g.collect { case (gr, tf) if !corpus.contains(gr) => tf }.sum
      id -> (g.values.sum, knSum.toLong, oov)
    }
    val got = TextOps.knScore(spark, sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Long]("kn_sum"), r.getAs[Long]("oov_tf"))).toMap
    assert(got.keySet == expect.keySet)
    for ((id, e) <- expect) assert(got(id) == e, s"doc $id: got ${got(id)}, expect $e")
    // the split is the point: batch docs must hit genuinely unseen bigrams
    assert(expect.collect { case (id, (_, _, oov)) if id >= wm && oov > 0 => id }.nonEmpty,
      "no batch doc exercised the unseen-bigram backoff path")
    // and backoff must not be the zero backoff: some unseen bigram with a
    // seen continuation scores > 0 (the KN interpolation, not q92's zero)
    val someMass = d.exists { case (_, text) =>
      grams(text).exists { case (gr, _) =>
        !corpus.contains(gr) && q(gr, None) > 0 }
    }
    assert(someMass, "every unseen bigram scored 0 — interpolation never fired")
  }

  test("minKProb: driver replay of the ordered tail take; members score higher than held-out docs") {
    val d = graft.Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def grams(text: String): Map[String, Long] =
      "[a-z0-9]+".r.findAllIn(text.toLowerCase).toVector.sliding(2)
        .filter(_.size == 2).map(_.mkString(" ")).toVector
        .groupBy(identity).map { case (g, o) => g -> o.size.toLong }
    val wm = d.keys.max / 3
    val corpus = d.filter(_._1 < wm).values.map(grams)
      .foldLeft(Map.empty[String, Long]) { (acc, m) =>
        m.foldLeft(acc) { case (a, (g, c)) => a.updated(g, a.getOrElse(g, 0L) + c) } }
    val marg = corpus.groupBy(_._1.split(' ')(0))
      .map { case (w1, m) => w1 -> (m.values.sum, m.size.toLong) }
    val cont = corpus.groupBy(_._1.split(' ')(1)).map { case (w2, m) => w2 -> m.size.toLong }
    val ctot = BigInt(corpus.size)
    def q(g: String): Long = {
      val Array(w1, w2) = g.split(' ')
      val cw2 = BigInt(cont.getOrElse(w2, 0L))
      (marg.get(w1) match {
        case Some((c1, n1p)) =>
          (BigInt(1048576) * ((BigInt(4) * BigInt(corpus.getOrElse(g, 0L)) - 3).max(0) * ctot
            + BigInt(3) * BigInt(n1p) * cw2)) / (BigInt(4) * BigInt(c1) * ctot)
        case None => (BigInt(1048576) * cw2) / ctot
      }).toLong
    }
    val expect = d.map { case (id, text) =>
      val gs = grams(text)
      val n = gs.values.sum
      val k = (n + 4) / 5
      // ordered tail take, exactly the operator's (q, tf) sort + fold
      var rem = k; var s = 0L
      gs.toSeq.map { case (g, tf) => (q(g), tf) }.sorted.foreach { case (qv, tf) =>
        val take = math.min(rem, tf); s += take * qv; rem -= take
      }
      id -> ((n, k, s, if (k > 0) s / k else -1L))
    }
    val meanAll = {
      val ms = expect.values.collect { case (_, k, _, m) if k > 0 => m }
      ms.sum / ms.size
    }
    val got = TextOps.minKProb(spark, sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Long]("k_tokens"),
          r.getAs[Long]("mink_sum"), r.getAs[Long]("mink_mean_q"),
          r.getAs[Boolean]("suspect")))).toMap
    assert(got.keySet == expect.keySet)
    for ((id, (n, k, s, m)) <- expect)
      assert(got(id) == ((n, k, s, m, m > meanAll)), s"doc $id diverges from replay")
    // the paper's separation property on this fixture: training members'
    // tails average strictly higher probability than held-out docs' (the
    // mean of means is the sensitive statistic at 50 docs; the binary
    // suspect flag ties at coin-flip rates on uniform synthetic text)
    def meanScore(ids: Iterable[Long]) = {
      val ms = ids.map(got(_)._4).filter(_ >= 0); ms.sum.toDouble / ms.size
    }
    val members = d.keys.filter(_ < wm)
    val heldOut = d.keys.filter(_ >= wm)
    assert(meanScore(members) > meanScore(heldOut),
      s"member tail mean ${meanScore(members)} must exceed held-out ${meanScore(heldOut)}")
  }

  test("sourceSelect: driver greedy max-coverage replay; greedy beats naive size-ranked picks") {
    val rows = graft.Tables.load(spark, sf0001, "documents")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val bySource: Map[String, Set[String]] = rows.groupBy(_._1).map { case (s, docs) =>
      s -> docs.flatMap { case (_, text) =>
        val toks = "[a-z0-9]+".r.findAllIn(text.toLowerCase).toVector
        toks.sliding(3).filter(_.size == 3).map(_.mkString(" "))
      }.toSet
    }
    var covered = Set.empty[String]
    var picked = Vector.empty[(Int, String, Long, Long)]
    for (r <- 1 to 4) {
      val cands = bySource.view.filterKeys(s => !picked.exists(_._2 == s))
        .mapValues(v => (v -- covered).size.toLong).toSeq
        .filter(_._2 > 0)
      if (cands.nonEmpty) {
        val (src, gain) = cands.minBy { case (s, g) => (-g, s) }
        covered ++= bySource(src)
        picked :+= ((r, src, gain, covered.size.toLong))
      }
    }
    val got = TextOps.sourceSelect(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3))).toVector
      .sortBy(_._1)
    assert(got == picked, s"greedy trace diverges:\n got  $got\n want $picked")
    assert(picked.size == 4 && picked.last._4 > picked.head._4,
      "fixture must sustain 4 non-degenerate rounds")
    // the submodular point: greedy coverage >= the naive biggest-vocab picks
    val naive = bySource.toSeq.sortBy { case (s, v) => (-v.size, s) }
      .take(4).flatMap(_._2).toSet.size
    assert(picked.last._4 >= naive,
      s"greedy ${picked.last._4} must cover at least naive-top-4 $naive")
  }

  test("sourceSelect cell closure: a too-wide source dimension fires the named refusal before any driver collect") {
    // VERDICT r17 #7 / ADVICE #1: the cellCap guard must fire from the
    // Spark-side count of the persisted cell frame, so the driver never
    // holds an over-budget closure. cellCap is a call-site parameter, so
    // the refusal regime is provable with a tiny frame: 6 single-source
    // cells against a budget of 5.
    import spark.implicits._
    val st = (1 to 6).map(i => (s"s$i", s"term$i")).toDF("source", "term")
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[IllegalArgumentException] {
      TextOps.sourceSelectFrom(spark, st, k = 2, cellCap = 5)
    }
    assert(e.getMessage.contains("source-combination cells exceed"),
      s"named refusal expected, got: ${e.getMessage}")
    assert((spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore).isEmpty,
      "the refusal must release the persisted cell frame")
  }

  test("budgetAllocate: driver water-filling replay; allocation feasible, budget-tight, cap-respecting") {
    val rows = graft.Tables.load(spark, sf0001, "documents")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val avail = rows.groupBy(_._1).map { case (s, ds) =>
      s -> ds.map(d => "[a-z0-9]+".r.findAllIn(d._2.toLowerCase).size.toLong).sum }
    val weight = rows.groupBy(_._1).map { case (s, ds) =>
      s -> ds.flatMap { case (_, t) =>
        val toks = "[a-z0-9]+".r.findAllIn(t.toLowerCase).toVector
        toks.sliding(3).filter(_.size == 3).map(_.mkString(" "))
      }.toSet.size.toLong }
    val budget = avail.values.sum / 5
    val order = avail.keys.toSeq.sortBy(s =>
      ((BigInt(avail(s)) * BigInt(1099511627776L) / weight(s)), s))
    // prefix walk with the running AND, exactly the operator's construction
    var prefixAvail = 0L
    var running = true
    val capped = scala.collection.mutable.LinkedHashMap.empty[String, Boolean]
    order.zipWithIndex.foreach { case (s, i) =>
      val suffixW = order.drop(i).map(weight).sum
      val pass = BigInt(avail(s)) * suffixW <= BigInt(budget - prefixAvail) * weight(s)
      running = running && pass
      capped(s) = running
      prefixAvail += avail(s)
    }
    val num = budget - capped.collect { case (s, true) => avail(s) }.sum
    val den = capped.collect { case (s, false) => weight(s) }.sum
    val expect = order.map { s =>
      s -> ((avail(s), weight(s), budget, capped(s),
        if (capped(s)) avail(s) else (BigInt(weight(s)) * num / den).toLong))
    }.toMap
    val got = TextOps.budgetAllocate(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getLong(5)))).toMap
    assert(got == expect)
    // allocation invariants: feasible per source, within budget, tight
    // (undershoot only from floors: < |uncapped|), and both regimes occur
    got.foreach { case (s, (av, _, _, _, al)) => assert(al <= av, s) }
    val total = got.values.map(_._5).sum
    val nUncapped = got.values.count(!_._4)
    assert(total <= budget && budget - total < math.max(nUncapped, 1).toLong,
      s"total $total vs budget $budget with $nUncapped uncapped")
    assert(got.values.exists(_._4) || nUncapped == got.size,
      "degenerate fixture: no capped source and not all uncapped")
  }

  test("conformalThreshold: driver order-statistic replay; empirical coverage honors the guarantee") {
    val rows = graft.Tables.load(spark, sf001, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def score(text: String): Long =
      classifierScore("[a-z0-9]+".r.findAllIn(text.toLowerCase).toSeq)
    def u52(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 13), 16)
    val scored = rows.map { case (id, t) => (id, score(t), u52(s"conf_$id")) }
    val cal = scored.sortBy { case (id, _, h) => (h, id) }.take(64)
    val calScores = cal.map(_._2).sorted
    val calIds = cal.map(_._1).toSet
    val test = scored.filterNot(s => calIds(s._1)).map(_._2)
    val expect = Seq(5, 10, 20).map { a =>
      val k = (cal.length + 1) * a / 100
      val thr = if (k >= 1) calScores(k - 1) else Long.MinValue
      val nPass = test.count(_ >= thr).toLong
      a -> ((cal.length.toLong, k.toLong, thr, test.length.toLong, nPass,
        nPass * 1048576L / test.length))
    }.toMap
    val got = TextOps.conformalThreshold(spark, sf001).collect()
      .map(r => r.getAs[Int]("alpha_pct") ->
        ((r.getAs[Long]("n_cal"), r.getAs[Long]("k_rank"), r.getAs[Long]("threshold"),
          r.getAs[Long]("n_test"), r.getAs[Long]("n_pass"),
          r.getAs[Long]("coverage_q")))).toMap
    assert(got == expect, s"got $got\nexpect $expect")
    // the split-CP guarantee, empirically: held-out pass rate >= 1 - alpha
    // minus sampling slack (both splits draw from the same synthetic pool)
    for ((a, (_, _, _, _, _, cov)) <- got)
      assert(cov >= ((100 - a) * 1048576L / 100) - 1048576L / 10,
        s"alpha=$a% coverage ${cov / 1048576.0} far below ${1 - a / 100.0}")
    // thresholds must tighten as alpha grows (more culling allowed)
    assert(got(5)._3 <= got(10)._3 && got(10)._3 <= got(20)._3)
  }

  test("madOutliers: driver median/MAD replay; robust stats ignore a planted extreme doc") {
    val rows = graft.Tables.load(spark, sf001, "documents")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def score(text: String): Long =
      classifierScore("[a-z0-9]+".r.findAllIn(text.toLowerCase).toSeq)
    def medianOf(xs: Seq[Double]): Double = {
      val s = xs.sorted
      val n = s.length
      val pos = 0.5 * (n - 1)
      val lo = s(pos.toInt)
      val hi = s(math.ceil(pos).toInt)
      lo + (pos - pos.toInt) * (hi - lo)
    }
    val scored = rows.map { case (id, src, t) => (id, src, score(t)) }
    val expect = scored.groupBy(_._2).toSeq.flatMap { case (src, ds) =>
      val med = medianOf(ds.map(_._3.toDouble).toSeq)
      val mad = medianOf(ds.map(d => math.abs(d._3.toDouble - med)).toSeq)
      ds.toSeq.map { case (id, _, sc) =>
        id -> ((src, sc, med, mad, math.abs(sc.toDouble - med) > 3.0 * 1.4826 * mad))
      }
    }.toMap
    val got = TextOps.madOutliers(spark, sf001).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("source"), r.getAs[Long]("score"), r.getAs[Double]("med"),
          r.getAs[Double]("mad"), r.getAs[Boolean]("outlier")))).toMap
    assert(got.keySet == expect.keySet)
    for ((id, e) <- expect) assert(got(id) == e, s"doc $id diverges")
    // robustness, the reason MAD beats mean/SD: per source, the median and
    // MAD computed WITHOUT the most extreme doc barely move (< 10%), so one
    // wild doc cannot mask itself — the breakdown-point property in action
    scored.groupBy(_._2).foreach { case (src, ds) =>
      val med = expect(ds.head._1)._3
      val worst = ds.maxBy(d => math.abs(d._3.toDouble - med))
      val rest = ds.filterNot(_ == worst)
      val med2 = medianOf(rest.map(_._3.toDouble).toSeq)
      val mad = expect(ds.head._1)._4
      val mad2 = medianOf(rest.map(d => math.abs(d._3.toDouble - med2)).toSeq)
      if (mad > 0)
        assert(math.abs(mad2 - mad) <= 0.25 * mad + 1e-9,
          s"$src: MAD moved ${mad} -> ${mad2} when dropping one doc")
    }
  }

  test("noveltyCurve: driver replay; first slice is all-new, cumulative vocab closes the total") {
    def u52(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 13), 16)
    val rows = graft.Tables.load(spark, sf001, "documents")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def shingles(t: String): Set[String] = {
      val toks = "[a-z0-9]+".r.findAllIn(t.toLowerCase).toVector
      toks.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet
    }
    val sliced = rows.map { case (id, src, t) =>
      (src, (u52(s"slice_$id") % 8).toInt, id, t) }
    val bySrc = sliced.groupBy(_._1)
    val expect = bySrc.toSeq.flatMap { case (src, ds) =>
      val bySlice = ds.groupBy(_._2)
      val perSliceSh = bySlice.map { case (sl, d2) =>
        sl -> d2.flatMap(d => shingles(d._4)).toSet }
      val firstSeen = perSliceSh.toSeq.flatMap { case (sl, ss) => ss.map(_ -> sl) }
        .groupBy(_._1).map { case (sh, o) => sh -> o.map(_._2).min }
      val slicesSorted = bySlice.keys.toSeq.sorted
      var cumT = 0L; var cumV = 0L
      slicesSorted.map { sl =>
        val tokens = bySlice(sl).map(d =>
          "[a-z0-9]+".r.findAllIn(d._4.toLowerCase).size.toLong).sum
        val seen = perSliceSh(sl).size.toLong
        val fresh = firstSeen.count(_._2 == sl).toLong
        cumT += tokens; cumV += fresh
        (src, sl) -> ((tokens, seen, fresh, cumT, cumV, fresh * 1048576L / seen))
      }
    }.toMap
    val got = TextOps.noveltyCurve(spark, sf001).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Int]("slice")) ->
        ((r.getAs[Long]("slice_tokens"), r.getAs[Long]("slice_seen"),
          r.getAs[Long]("slice_new"), r.getAs[Long]("cum_tokens"),
          r.getAs[Long]("cum_vocab"), r.getAs[Long]("novelty_q")))).toMap
    assert(got == expect)
    // structural properties: the first slice of every source is ALL new
    // vocabulary; the final cumulative closes the source's distinct total
    bySrc.foreach { case (src, ds) =>
      val first = ds.map(_._2).min
      assert(got((src, first))._6 == 1048576L, s"$src first slice not all-new")
      val total = ds.flatMap(d => shingles(d._4)).toSet.size.toLong
      val last = ds.map(_._2).max
      assert(got((src, last))._5 == total, s"$src cumulative vocab must close at $total")
    }
    // the signal exists: later slices are less novel than the first
    assert(got.values.exists(_._6 < 1048576L), "no saturation anywhere — curve is flat")
  }

  test("termBurstiness: driver VMR replay; a planted bursty term outranks a spread-out one") {
    val real = graft.Tables.load(spark, sf001, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def counts(t: String): Map[String, Long] =
      "[a-z0-9]+".r.findAllIn(t.toLowerCase).toSeq
        .groupBy(identity).map { case (w, o) => w -> o.size.toLong }
    val n = real.length.toLong
    val perTerm = real.flatMap { case (_, t) => counts(t).toSeq }
      .groupBy(_._1).map { case (term, o) =>
        val tfs = o.map(_._2)
        term -> ((tfs.size.toLong, tfs.sum, tfs.map(x => BigInt(x) * x).sum))
      }.filter(_._2._1 >= 5)
    val vmr = perTerm.map { case (term, (df, s, s2)) =>
      term -> ((df, s, ((BigInt(1048576) * (BigInt(n) * s2 - BigInt(s) * s))
        / (BigInt(n) * s)).toLong))
    }
    val expect = vmr.toSeq.sortBy { case (term, (_, _, v)) => (-v, term) }.take(20)
      .zipWithIndex.map { case ((term, (df, s, v)), i) => (i + 1, term, df, s, v) }.toSet
    val got = TextOps.termBurstiness(spark, sf001).collect()
      .map(r => (r.getAs[Int]("rnk"), r.getAs[String]("term"), r.getAs[Long]("df"),
        r.getAs[Long]("tf_sum"), r.getAs[Long]("vmr_q"))).toSet
    assert(got == expect, s"got ${got.toSeq.sortBy(_._1)}\nexpect ${expect.toSeq.sortBy(_._1)}")
    // the Church-Gale point, on a synthetic pair with equal total mass:
    // 50 occurrences in one doc must out-VMR 1-per-doc across 50 docs
    def vmrOf(tfs: Seq[Long], nDocs: Long): Double = {
      val s = tfs.sum.toDouble; val s2 = tfs.map(x => x.toDouble * x).sum
      (nDocs * s2 - s * s) / (nDocs * s)
    }
    assert(vmrOf(Seq(50L), 100L) > vmrOf(Seq.fill(50)(1L), 100L) * 10)
  }

  test("filterKappa: driver confusion replay; kappa corrects the chance a raw rate hides") {
    val rows = graft.Tables.load(spark, sf001, "documents")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getString(1), r.getString(2)))
    val lab = rows.map { case (src, t) =>
      val toks = "[a-z0-9]+".r.findAllIn(t.toLowerCase).toVector
      (src, classifierScore(toks) >= 0, toks.distinct.size * 2 >= toks.size)
    }
    val expect = lab.groupBy(_._1).map { case (src, ds) =>
      val n11 = ds.count(d => d._2 && d._3).toLong
      val n10 = ds.count(d => d._2 && !d._3).toLong
      val n01 = ds.count(d => !d._2 && d._3).toLong
      val n00 = ds.count(d => !d._2 && !d._3).toLong
      val n = n11 + n10 + n01 + n00
      val e = BigInt(n11 + n10) * (n11 + n01) + BigInt(n01 + n00) * (n10 + n00)
      val den = BigInt(n) * n - e
      val k = if (den != 0)
        Some(((BigInt(1048576) * (BigInt(n) * (n11 + n00) - e)) / den).toLong)
      else None
      src -> ((n11, n10, n01, n00, k))
    }
    val got = TextOps.filterKappa(spark, sf001).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n11"), r.getAs[Long]("n10"), r.getAs[Long]("n01"),
          r.getAs[Long]("n00"),
          if (r.isNullAt(5)) None else Some(r.getAs[Long]("kappa_q"))))).toMap
    assert(got == expect)
    got.values.flatMap(_._5).foreach(k => assert(k >= -1048576L && k <= 1048576L))
    // the chance-correction point, locally: two raters that agree on 90%
    // only because both say "keep" to ~everything get a LOW kappa
    def kappaOf(n11: Long, n10: Long, n01: Long, n00: Long): Double = {
      val n = n11 + n10 + n01 + n00
      val e = ((n11 + n10).toDouble * (n11 + n01) + (n01 + n00).toDouble * (n10 + n00))
      (n * (n11 + n00) - e) / (n.toDouble * n - e)
    }
    assert(kappaOf(90, 5, 5, 0) < 0.0 && kappaOf(45, 5, 5, 45) > 0.7)
  }

  test("cusumDrift: driver two-sided fold replay; alarm is exactly the 4k crossing") {
    val rows = graft.Tables.load(spark, sf001, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def score(t: String): Long =
      classifierScore("[a-z0-9]+".r.findAllIn(t.toLowerCase).toSeq)
    val width = rows.map(_._1).max / 64 + 1
    val byChunk = rows.groupBy { case (id, _) => (id / width).toInt }
      .map { case (c, ds) =>
        val s = ds.map(d => score(d._2)).sum
        c -> ((ds.size.toLong, s, s * 1048576L / ds.size))
      }
    val chunksSorted = byChunk.keys.toSeq.sorted
    val muQ = {
      val st = byChunk.values.map(_._2).sum
      val nt = byChunk.values.map(_._1).sum
      st * 1048576L / nt
    }
    val kQ = chunksSorted.map(c => math.abs(byChunk(c)._3 - muQ)).sum /
      (2L * chunksSorted.size)
    var sp = 0L; var sn = 0L
    val expect = chunksSorted.map { c =>
      val m = byChunk(c)._3
      sp = math.max(0L, sp + m - muQ - kQ)
      sn = math.max(0L, sn - (m - muQ) - kQ)
      c -> ((byChunk(c)._1, m, muQ, kQ, sp, sn, sp > 4 * kQ || sn > 4 * kQ))
    }.toMap
    val got = TextOps.cusumDrift(spark, sf001).collect()
      .map(r => r.getAs[Int]("chunk") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("mean_q"), r.getAs[Long]("mu_q"),
          r.getAs[Long]("k_q"), r.getAs[Long]("s_pos"), r.getAs[Long]("s_neg"),
          r.getAs[Boolean]("alarm")))).toMap
    assert(got == expect)
    // fold invariants: both sums nonnegative, alarm exactly the crossing
    got.values.foreach { case (_, _, _, k, p, nn, a) =>
      assert(p >= 0 && nn >= 0 && a == (p > 4 * k || nn > 4 * k)) }
    // the CUSUM point, locally: a sustained +k drift alarms even though no
    // single observation exceeds mu + 5k (a per-chunk threshold stays silent)
    var s = 0L
    val drift = Seq.fill(12)(2L) // x - mu = +2k every step
    val kk = 1L
    val crossed = drift.map { d => s = math.max(0L, s + d * kk - kk); s }
    assert(crossed.last > 4 * kk && drift.forall(_ * kk < 5 * kk))
  }

  test("chao1Vocab: driver frequency-of-frequencies replay; the estimator sees through subsampling") {
    val rows = graft.Tables.load(spark, sf001, "documents")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    def tri(t: String): Seq[String] = {
      val toks = "[a-z0-9]+".r.findAllIn(t.toLowerCase).toVector
      toks.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSeq
    }
    def stats(grams: Seq[String]): (Long, Long, Long, Long) = {
      val cts = grams.groupBy(identity).map(_._2.size.toLong)
      (cts.size.toLong, cts.sum, cts.count(_ == 1L).toLong, cts.count(_ == 2L).toLong)
    }
    def chao1(v: Long, n1: Long, n2: Long): Long =
      v + (if (n2 > 0) n1 * n1 / (2 * n2) else n1 * (n1 - 1) / (2 * (n2 + 1)))
    val expect = rows.groupBy(_._1).map { case (src, ds) =>
      val (v, tk, n1, n2) = stats(ds.toSeq.flatMap(d => tri(d._2)))
      val vh = chao1(v, n1, n2)
      src -> ((v, tk, n1, n2, vh - v, vh, v * 1048576L / vh, (tk - n1) * 1048576L / tk))
    }
    val got = TextOps.chao1Vocab(spark, sf001).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("v_obs"), r.getAs[Long]("tokens"), r.getAs[Long]("n1"),
          r.getAs[Long]("n2"), r.getAs[Long]("chao1_extra"), r.getAs[Long]("v_hat"),
          r.getAs[Long]("coverage_q"), r.getAs[Long]("cov_gt_q")))).toMap
    assert(got == expect)
    // estimator property, locally: a half-subsample's Chao1 recovers a
    // large share of the FULL observed vocabulary (the "is more crawling
    // worth it" use) — run on the corpus-wide gram multiset
    val all = rows.toSeq.flatMap(d => tri(d._2))
    val (vFull, _, _, _) = stats(all)
    val half = all.zipWithIndex.collect { case (g, i) if i % 2 == 0 => g }
    val (vH, _, n1H, n2H) = stats(half)
    val est = chao1(vH, n1H, n2H)
    assert(est > vH, "subsample estimate must predict unseen types")
    assert(est.toDouble >= 0.6 * vFull,
      s"Chao1 on a half-sample ($est) should reach well toward the full $vFull")
  }

  test("packingPlan: driver arithmetic replay; packing strictly beats padding where docs vary") {
    val lens = graft.Tables.load(spark, sf001, "documents")
      .select("text").collect()
      .map(r => "[a-z0-9]+".r.findAllIn(r.getString(0).toLowerCase).size.toLong)
    val expect = Seq(128L, 512L, 2048L).map { l =>
      val kept = lens.map(x => math.min(x, l)).sum
      val total = lens.sum
      val packBins = (total + l - 1) / l
      l -> ((lens.length.toLong, total, kept,
        lens.map(x => math.max(x - l, 0L)).sum,
        lens.map(x => l - math.min(x, l)).sum,
        lens.length.toLong, packBins,
        kept * 1048576L / (lens.length * l),
        total * 1048576L / (packBins * l)))
    }.toMap
    val got = TextOps.packingPlan(spark, sf001).collect()
      .map(r => r.getAs[Long]("l") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("total_tokens"),
          r.getAs[Long]("kept_tokens"), r.getAs[Long]("truncated_tokens"),
          r.getAs[Long]("pad_waste"), r.getAs[Long]("pad_bins"),
          r.getAs[Long]("pack_bins"), r.getAs[Long]("pad_efficiency_q"),
          r.getAs[Long]("pack_efficiency_q")))).toMap
    assert(got == expect)
    // the planner's point: pack efficiency is near 1 at every L and never
    // below pad efficiency; pad pays real waste at the long-context end
    got.foreach { case (l, row) =>
      assert(row._9 >= row._8, s"L=$l: packing must not lose to padding")
      assert(row._9 >= 1048576L * 9 / 10, s"L=$l: pack efficiency must be near 1")
    }
    assert(got(2048L)._8 < 1048576L / 2,
      "long-context padding on short docs must show < 50% slot utilization")
  }

  test("ksMatrix: driver bucketized-CDF replay; KS separates a shape shift a mean check misses") {
    val rows = graft.Tables.load(spark, sf001, "documents")
      .select("source", "text").collect()
      .map(r => (r.getString(0),
        classifierScore("[a-z0-9]+".r.findAllIn(r.getString(1).toLowerCase).toSeq)))
    val lo = rows.map(_._2).min; val hi = rows.map(_._2).max
    def bin(s: Long): Long =
      if (hi == lo) 0L else math.floor((s - lo).toDouble * 256 / (hi - lo + 1)).toLong
    val bySrc = rows.groupBy(_._1).map { case (src, ds) =>
      val cts = ds.map(d => bin(d._2)).groupBy(identity).map { case (b, o) => b -> o.size.toLong }
      val cum = (0L until 256L).scanLeft(0L)((acc, b) => acc + cts.getOrElse(b, 0L)).tail
      src -> ((ds.length.toLong, cum))
    }
    val srcs = bySrc.keys.toSeq.sorted
    val expect = (for { a <- srcs; b <- srcs if a < b } yield {
      val (na, ca) = bySrc(a); val (nb, cb) = bySrc(b)
      val gap = ca.zip(cb).map { case (x, y) => math.abs(x * nb - y * na) }.max
      (a, b) -> ((na, nb, gap, gap * 1048576L / (na * nb)))
    }).toMap
    val got = TextOps.ksMatrix(spark, sf001).collect()
      .map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b")) ->
        ((r.getAs[Long]("n_a"), r.getAs[Long]("n_b"), r.getAs[Long]("max_gap"),
          r.getAs[Long]("ks_q")))).toMap
    assert(got == expect)
    got.values.foreach { case (_, _, _, k) => assert(k >= 0 && k <= 1048576L) }
    // the shape-vs-mean point, locally: two equal-mean samples — one tight,
    // one split to the extremes — have KS = 0.5 while their means coincide
    def ks(a: Seq[Long], b: Seq[Long]): Double = {
      val vals = (a ++ b).distinct.sorted
      vals.map(v => math.abs(
        a.count(_ <= v).toDouble / a.size - b.count(_ <= v).toDouble / b.size)).max
    }
    val tight = Seq.fill(100)(50L)
    val split = Seq.fill(50)(0L) ++ Seq.fill(50)(100L)
    assert(tight.sum / tight.size == split.sum / split.size)
    assert(ks(tight, split) == 0.5)
  }

  test("sourceAblation: driver LOO replay; deltas sum-check against the exact means") {
    val rows = graft.Tables.load(spark, sf001, "documents")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    def toks(t: String) = "[a-z0-9]+".r.findAllIn(t.toLowerCase).toVector
    val per = rows.groupBy(_._1).map { case (src, ds) =>
      src -> ((ds.length.toLong, ds.map(d => toks(d._2).size.toLong).sum,
        ds.map(d => classifierScore(toks(d._2))).sum))
    }
    val uniq = rows.groupBy(_._1).map { case (src, ds) =>
      src -> ds.flatMap(d => toks(d._2).sliding(3).filter(_.size == 3)
        .map(_.mkString(" "))).toSet
    }
    val uniqCt = uniq.map { case (src, ss) =>
      val others = uniq.collect { case (o, s2) if o != src => s2 }
        .foldLeft(Set.empty[String])(_ ++ _)
      src -> (ss -- others).size.toLong
    }
    val (tn, tt, ts) = (per.values.map(_._1).sum, per.values.map(_._2).sum,
      per.values.map(_._3).sum)
    val expect = per.map { case (src, (n, tk, s)) =>
      val d = ((BigInt(1048576) * (BigInt(ts - s) * tn - BigInt(ts) * (tn - n)))
        / (BigInt(tn) * (tn - n))).toLong
      src -> ((n, tk, tk * 1048576L / tt, uniqCt(src), d, d > 0))
    }
    val got = TextOps.sourceAblation(spark, sf001).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("tokens"),
          r.getAs[Long]("token_share_q"), r.getAs[Long]("unique_vocab"),
          r.getAs[Long]("dmean_q"), r.getAs[Boolean]("cut_candidate")))).toMap
    assert(got == expect)
    // semantic check: the source with the LOWEST mean score must be a cut
    // candidate (dropping the worst source raises the mean by definition),
    // and the HIGHEST-mean source must not be
    val means = per.map { case (src, (n, _, s)) => src -> s.toDouble / n }
    assert(got(means.minBy(_._2)._1)._6, "dropping the worst source must raise the mean")
    assert(!got(means.maxBy(_._2)._1)._6, "dropping the best source must lower the mean")
  }

  test("rakeKeyphrases: driver RAKE replay (runs, chunks, deg/freq ratios, argmax)") {
    val stop = StopwordsEn.toSet
    val d = graft.Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def toks(text: String): Vector[String] =
      "[a-z0-9]+".r.findAllIn(text.toLowerCase).toVector
    // candidate phrases per doc: maximal non-stopword runs chunked to <=4
    val cands: Map[Long, Vector[Vector[String]]] = d.map { case (id, text) =>
      val runs = scala.collection.mutable.ArrayBuffer.empty[Vector[String]]
      var cur = Vector.empty[String]
      toks(text).foreach { t =>
        if (stop(t)) { if (cur.nonEmpty) { runs += cur; cur = Vector.empty } }
        else cur = cur :+ t
      }
      if (cur.nonEmpty) runs += cur
      id -> runs.toVector.flatMap(_.grouped(4))
    }
    val all = cands.values.flatten.toVector
    val freq = all.flatten.groupBy(identity).map { case (w, o) => w -> o.size.toLong }
    val deg = all.flatMap(p => p.map(w => w -> p.size.toLong))
      .groupBy(_._1).map { case (w, o) => w -> o.map(_._2).sum }
    val ratio = freq.map { case (w, f) => w -> (deg(w) * 1048576L) / f }
    val expect = cands.collect { case (id, ps) if ps.nonEmpty =>
      val scored = ps.map(p => (p.map(ratio).sum, p.mkString(" ")))
      id -> ((ps.size.toLong, scored.max._2, scored.max._1))
    }
    val got = TextOps.rakeKeyphrases(spark, sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_phrases"), r.getAs[String]("top_phrase"),
          r.getAs[Long]("score_q")))).toMap
    assert(got.keySet == expect.keySet)
    for ((id, e) <- expect) assert(got(id) == e, s"doc $id: got ${got(id)}, expect $e")
    // the fixture must actually exercise multi-word phrases and stopword
    // splits, or the run/chunk machinery is untested
    assert(expect.values.exists(_._2.contains(' ')), "no multi-word top phrase")
    assert(expect.values.exists(_._1 > 1), "every doc had a single candidate")
  }

  test("vocabCoverage: F-walk equals the rank-window construction; monotone; saturates at |vocab|") {
    import spark.implicits._
    val got = TextOps.vocabCoverage(spark, sf001).as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    val ref = TextOps.vocabCoverageWindowed(spark, sf001).as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(got == ref,
      "tie-invariance theorem: the frequency-of-frequencies walk must equal the textbook rank window")
    // custom sizes force a cut INSIDE a tie group (v = 1, 7) and past the
    // vocabulary end (v = 10^7); the curve must be monotone and saturate
    val sizes = Seq(1, 7, 100, 10000000)
    val curve = TextOps.vocabCoverage(spark, sf0001, sizes)
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(curve.length == sizes.length, "one row per candidate size")
    assert(curve.map(_._3).sliding(2).forall(s => s.head <= s.last),
      "covered_tokens must be monotone in V")
    val (total, vObs) = (curve.head._4, curve.head._5)
    assert(curve.filter(_._1 >= vObs).forall(r => r._3 == total && r._6 == 0L),
      "V >= |vocab| must cover the full token mass with zero OOV")
    assert(curve.exists(r => r._3 < total && r._6 > 0L),
      "small V must leave OOV mass (non-degenerate fixture)")
    val refCurve = TextOps.vocabCoverageWindowed(spark, sf0001, sizes)
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(curve.toSeq == refCurve.toSeq,
      "equality must hold on partial-tie cuts too")
    // plan pin for the no-vocab-sort property the √(2N) bound licenses: the
    // single Window walks the frequency-of-frequencies frame (ordered by ct
    // alone); a regression back to the textbook rank window would order by
    // (ct, term) and light up `term` in the Window line
    val plan = TextOps.vocabCoverage(spark, sf0001)
      .queryExecution.executedPlan.toString
    val winLines = plan.linesIterator.filter(_.contains("Window")).toSeq
    assert(winLines.size == 1, s"exactly one Window in the q198 plan:\n$plan")
    // `term#` is the attribute-reference print of the term column; the
    // F-walk window orders by ct alone (its `n_terms#` sum aggregate does
    // NOT print `term#`), while the textbook rank window orders by
    // (ct, term) and would light it up
    assert(!winLines.head.contains("term#"),
      s"the Window must never sort the term table:\n${winLines.head}")
  }

  // ---- shared integer-grid helpers for the q203/q205 driver replays ----
  private val Grid = 1048576L
  private def lnq(x: Long): Long =
    math.floor(math.log(x.toDouble) * Grid.toDouble).toLong
  private def driverTokens(spark: org.apache.spark.sql.SparkSession, dir: String)
  : Seq[(String, String)] = {
    val tok = "[a-z0-9]+".r
    graft.Tables.load(spark, dir, "documents")
      .select("source", "text").collect().toSeq
      .flatMap(r => tok.findAllIn(r.getString(1).toLowerCase).map(r.getString(0) -> _))
  }

  test("zipfTail: matches a driver Hill-estimator replay on real docs") {
    val counts = driverTokens(spark, sf0001)
      .groupBy(identity).map { case ((s, t), xs) => (s, t, xs.size.toLong) }.toSeq
    val want = counts.groupBy(_._1).map { case (src, rows) =>
      val top = rows.sortBy { case (_, t, c) => (-c, t) }.take(64).map(_._3)
      val lnqs = top.map(lnq)
      val m = top.size
      val sq = lnqs.sum - m * lnqs.min
      val alphaQ = ((m - 1).toLong * Grid * Grid) / math.max(sq, 1L)
      (src, rows.size.toLong, m, sq, alphaQ, alphaQ.toDouble / Grid.toDouble)
    }.toSet
    val got = TextOps.zipfTail(spark, sf0001).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4),
        r.getDouble(5))).toSet
    assert(got == want, s"Hill replay diverges:\n got  $got\n want $want")
    // the estimator must discriminate: real sources are not all identical
    assert(got.map(_._5).size > 1, "fixture must produce distinct tail indexes")
  }

  test("pmiCollocations: matches a driver PMI replay on real docs; min-count floor and total-order cut hold") {
    val tok = "[a-z0-9]+".r
    val docTokens = graft.Tables.load(spark, sf0001, "documents")
      .select("text").collect().toSeq
      .map(r => tok.findAllIn(r.getString(0).toLowerCase).toVector)
    val uni = docTokens.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = uni.values.sum
    val bi = docTokens.flatMap(ts => ts.zip(ts.drop(1)).map { case (a, b) => s"$a $b" })
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
      .filter(_._2 >= 5L)
    val scored = bi.toSeq.map { case (bg, ct) =>
      val Array(w1, w2) = bg.split(" ")
      val pmiQ = lnq(ct * n) - lnq(uni(w1) * uni(w2))
      (bg, ct, uni(w1), uni(w2), pmiQ, pmiQ.toDouble / Grid.toDouble)
    }
    val want = scored.sortBy { case (bg, _, _, _, pq, _) => (-pq, bg) }.take(64)
    val got = TextOps.pmiCollocations(spark, sf0001).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5))).toSeq
    assert(got.toSet == want.toSet, s"PMI replay diverges:\n got  $got\n want $want")
    assert(got.nonEmpty && got.forall(_._2 >= 5L), "min-count floor must hold")
    // PMI must discriminate (not all pairs tie) or the ranking is vacuous
    assert(got.map(_._5).distinct.size > 1, "fixture must produce distinct PMI scores")
  }

  test("doremiWeights: matches a full driver MWU replay on real docs; weights positive, sum 1") {
    val raw = driverTokens(spark, sf0001)
      .groupBy(identity).map { case ((s, t), xs) => (s, t, xs.size.toLong) }.toSeq
    // vocab cap replay (top 4095 by global count desc, token asc)
    val keep = raw.groupBy(_._2).view.mapValues(_.map(_._3).sum).toSeq
      .sortBy { case (t, g) => (-g, t) }.take(4095).map(_._1).toSet
    val cnt = raw.map { case (s, t, c) => (s, if (keep(t)) t else "<unk>", c) }
      .groupBy(r => (r._1, r._2)).map { case ((s, v), xs) => (s, v, xs.map(_._3).sum) }.toSeq
    val td = cnt.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val pq = cnt.map { case (s, v, c) => (s, v, c, (c * Grid) / td(s) + 1) }
    val hqM = cnt.groupBy(_._1).map { case (s, rows) =>
      s -> -(rows.map { case (_, _, c) => c * (lnq(c) - lnq(td(s))) }.sum / td(s))
    }
    val domains = td.keys.toSeq.sorted
    val byV = pq.groupBy(_._2)
    var u = domains.map(_ -> Grid).toMap
    var lastX = domains.map(_ -> 0L).toMap
    val lnGq = lnq(Grid)
    for (_ <- 1 to 8) {
      val dsum = domains.map(u).sum
      val lm = byV.map { case (v, rs) =>
        v -> (lnq(rs.map(t => u(t._1) * t._4).sum) - lnq(dsum) - lnGq) }
      val x = domains.map { d =>
        val ce = -(pq.filter(_._1 == d).map { case (_, v, c, _) => c * lm(v) }.sum / td(d))
        d -> math.max(0L, ce - hqM(d))
      }.toMap
      val xmax = math.max(1L, domains.map(x).max)
      lastX = x
      u = domains.map(d => d -> (u(d) * (2 * Grid + (x(d) * Grid) / xmax)) / (2 * Grid)).toMap
    }
    val usum = domains.map(u).sum
    val want = domains.map(d =>
      (d, td(d), hqM(d), lastX(d), u(d), u(d).toDouble / usum.toDouble)).toSet
    val got = TextOps.doremiWeights(spark, sf0001).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5))).toSet
    assert(got == want, s"MWU replay diverges:\n got  $got\n want $want")
    val ws = got.toSeq.map(_._6)
    assert(ws.forall(_ > 0.0) && math.abs(ws.sum - 1.0) < 1e-9,
      s"weights must be a positive distribution, got $ws")
  }

  test("doremiWeights: the divergent domain is upweighted; vocab cap buckets the tail as <unk>") {
    import spark.implicits._
    // twin domains share one distribution; the third is concentrated
    // elsewhere — Group-DRO must hand it the largest weight
    val raw = Seq(
      ("a", "x", 60L), ("a", "y", 30L), ("a", "z", 10L),
      ("b", "x", 60L), ("b", "y", 30L), ("b", "z", 10L),
      ("c", "q", 90L), ("c", "x", 10L)
    ).toDF("source", "tok", "ct")
    val got = TextOps.doremiFrom(spark, raw, vocabCap = 4095, rounds = 8)
      .collect().map(r => r.getString(0) -> r.getDouble(5)).toMap
    assert(got("c") > got("a") && got("c") > got("b"),
      s"divergent domain must be upweighted: $got")
    assert(got("a") == got("b"), s"identical twins must tie exactly: $got")
    // cap = 1: only the globally-heaviest token ('x', 130 occurrences)
    // survives; everything else buckets into <unk> — a and b stay
    // identical under the bucketing, and the walk still runs
    val capped = TextOps.doremiFrom(spark, raw, vocabCap = 1, rounds = 4)
      .collect().map(r => r.getString(0) -> r.getDouble(5)).toMap
    assert(capped("a") == capped("b"),
      s"twins must tie under the <unk> bucketing too: $capped")
    assert(math.abs(capped.values.sum - 1.0) < 1e-9)
    // empty corpus fails by NAME, not with a bare empty.max crash
    val ex = intercept[IllegalArgumentException] {
      TextOps.doremiFrom(spark, raw.filter(lit(false)), vocabCap = 4095, rounds = 2)
    }
    assert(ex.getMessage.contains("no domains to weight"))
  }
}
