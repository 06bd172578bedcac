package graft.operators

import graft.SparkSuite
import graft.functions.VectorFns
import graft.plans.VectorExpressions
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The LSH/signature scale paths have no SQL oracle (their output depends on
  * our hash constants), so this spec IS their correctness gate: each is checked
  * against the exact, oracled verifier path on real testdata.
  */
class DedupSimilaritySpec extends SparkSuite {

  test("minhashLsh finds the exact-Jaccard pair set with full precision and high recall") {
    val exact = Dedup.ngramJaccard(spark, sf001)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLsh(spark, sf001)
      .filter(col("da") < 500 && col("db") < 500) // align with the capped exact path
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain near-dup pairs")
    // post-verification makes every emitted pair a true pair
    assert(lsh.subsetOf(exact), s"false positives: ${lsh -- exact}")
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall (found ${lsh.size} of ${exact.size})")
  }

  test("editDistancePairs: matches the exact O(n²) Levenshtein join; threshold boundary inclusive") {
    import spark.implicits._
    val d = graft.Tables.load(spark, sf001, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    def lev(a: String, b: String): Int = {
      val prev = Array.tabulate(b.length + 1)(identity)
      for (i <- 1 to a.length) {
        var diag = prev(0); prev(0) = i
        for (j <- 1 to b.length) {
          val cost = math.min(math.min(prev(j) + 1, prev(j - 1) + 1),
            diag + (if (a(i - 1) == b(j - 1)) 0 else 1))
          diag = prev(j); prev(j) = cost
        }
      }
      prev(b.length)
    }
    val exact = (for {
      (ia, ta) <- d; (ib, tb) <- d
      if ia < ib && math.abs(ta.length - tb.length) <= 24
      ed = lev(ta, tb) if ed <= 24
    } yield (ia, ib, ed)).toSet
    val got = Dedup.editDistancePairs(spark, sf001)
      .as[(Long, Long, Int)].collect().toSet
    assert(exact.nonEmpty, "fixture should contain edit-close pairs")
    assert(got == exact, s"missing=${exact -- got} extra=${got -- exact}")
    // boundary: a pair at exactly maxEd must be kept (threshold inclusive)
    // long shared texts: banding is probabilistic per band, so the fixture
    // needs shingle-Jaccard high enough (~0.95 here) that at least one of the
    // 16 bands collides with near-certainty; a short doc would make the
    // boundary test flaky on the banding dice (the UDF is deterministic, but
    // the margin documents WHY this fixture is safe)
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val two = Seq((1L, base + " omega"), (2L, base + " omegX")).toDF("doc_id", "text")
    val b = Dedup.editDistancePairsFrom(two, maxEd = 1).as[(Long, Long, Int)].collect()
    assert(b.toSeq == Seq((1L, 2L, 1)), b.toSeq)
  }

  test("editDistancePairs edjoin candidates: equal to lsh on the fixture; theorem recall where banding can miss") {
    import spark.implicits._
    // 1. same final pairs as the oracle-gated LSH path on the real corpus
    val corpus = graft.Tables.load(spark, sf001, "documents")
      .select(col("doc_id"), col("text"))
    val viaLsh = Dedup.editDistancePairsFrom(corpus)
      .as[(Long, Long, Int)].collect().toSet
    val viaEdJoin = Dedup.editDistancePairsFrom(corpus, candidates = "edjoin")
      .as[(Long, Long, Int)].collect().toSet
    assert(viaLsh.nonEmpty && viaEdJoin == viaLsh,
      s"missing=${viaLsh -- viaEdJoin} extra=${viaEdJoin -- viaLsh}")
    // 2. the theorem case: d scattered single-char edits destroy most
    // 3-gram shingles (jaccard collapses, all 16 minhash bands can flip),
    // but ED-Join's prefix guarantee must still surface the pair
    val toks = (1 to 60).map(i => f"alpha$i%02d").toArray
    val a = toks.mkString(" ")
    val edited = toks.zipWithIndex
      .map { case (t, i) => if (i % 5 == 0) t.dropRight(1) + "Z" else t }
      .mkString(" ") // 12 scattered substitutions, ed = 12
    val pair = Seq((1L, a), (2L, edited)).toDF("doc_id", "text")
    val got = Dedup.editDistancePairsFrom(pair, maxEd = 12, candidates = "edjoin")
      .as[(Long, Long, Int)].collect().toSeq
    assert(got == Seq((1L, 2L, 12)), s"theorem pair missed or wrong: $got")
    // 3. short-short completeness bucket: strings with ≤ q·d gram
    // occurrences can share NO gram at ed ≤ d — the prefix join is blind to
    // them by construction and the length-bucket brute path must cover it
    val tiny = Seq((1L, "abc"), (2L, "xyz"), (3L, "pq")).toDF("doc_id", "text")
    val tinyGot = Dedup.editDistancePairsFrom(tiny, maxEd = 3, candidates = "edjoin")
      .as[(Long, Long, Int)].collect().toSet
    assert(tinyGot == Set((1L, 2L, 3), (1L, 3L, 3), (2L, 3L, 3)), tinyGot.toString)
    // 4. bad flag fails loudly
    intercept[IllegalArgumentException] {
      Dedup.editDistancePairsFrom(tiny, candidates = "nope")
    }
  }

  test("containmentPairs: catches asymmetric dups Jaccard misses; 0.8 boundary inclusive; prefix filter = full join") {
    import graft.functions.TextFns.shingleHashesUdf
    import spark.implicits._
    val toks = (1 to 100).map(i => s"w$i")
    val big = toks.mkString(" ")
    val small = toks.take(20).mkString(" ")  // contained slice: cont = 1.0, jac ≈ 0.18
    val other = (1 to 100).map(i => s"z$i").mkString(" ")
    // exact-multiple boundary: small7 has 5 shingles, 4 shared → cont = 4/5
    // exactly; t·n integer is the case the float prefix formula got wrong
    val small7 = (1 to 7).map(i => s"q$i").mkString(" ")
    val bigB = ((1 to 6).map(i => s"q$i") ++ (1 to 40).map(i => s"y$i")).mkString(" ")
    val d = Seq((1L, big), (2L, small), (3L, other), (4L, bigB), (5L, small7))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairsFrom(d)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(4))).toMap
    assert(got.get((1L, 2L)).contains(1.0), s"contained slice must score 1.0: $got")
    assert(got.get((4L, 5L)).contains(0.8), s"cont = t exactly must be INCLUDED: $got")
    assert(!got.keys.exists(p => p._1 == 3L || p._2 == 3L), s"unrelated doc paired: $got")
    // the same (1,2) pair is structurally invisible to Jaccard-0.5 LSH
    assert(Dedup.minhashLshFrom(d).filter(col("da") === 1 && col("db") === 2).isEmpty,
      "jac ≈ 0.18 pair must NOT pass the Jaccard path — that asymmetry is the point")
    // prefix-filtered candidates lose nothing vs the full shared-shingle join
    val pre = Dedup.containmentPairs(spark, sf001)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = graft.Tables.load(spark, sf001, "documents").filter(col("doc_id") < 500)
      .select(col("doc_id"), explode(shingleHashesUdf(col("text"))).as("h"))
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val full = sh.as("a").join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("inter"))
      .join(sz.select(col("doc_id").as("da"), col("n").as("na")), "da")
      .join(sz.select(col("doc_id").as("db"), col("n").as("nb")), "db")
      .filter(col("inter") * 100 >= least(col("na"), col("nb")) * 80)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pre == full, s"prefix filter must be lossless: missing ${full -- pre}, extra ${pre -- full}")
    assert(full.nonEmpty, "sf0.01 fixture should contain containment pairs")
  }

  test("simhashPairs: emitted pairs verified, hamming<=3 ground truth fully recalled") {
    import graft.functions.TextFns
    // ground truth in the driver: 500 docs, all-pairs hamming over fingerprints
    val fps = graft.Tables.load(spark, sf001, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> TextFns.simhash(TextFns.tokenize(r.getString(1))))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val within3 = (for {
      (da, fa) <- fps; (db, fb) <- fps
      if da < db && ham(fa, fb) <= 3
    } yield (da, db)).toSet
    val out = Dedup.simhashPairs(spark, sf001)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Int]("hamming"))).toMap
    // 4x16-bit segment blocking GUARANTEES recall for hamming <= 3
    assert(within3.forall(out.contains), s"missed guaranteed pairs: ${within3 -- out.keySet}")
    // every emitted pair honestly reports a verified distance within the radius
    assert(out.values.forall(_ <= 16))
    out.foreach { case ((da, db), h) =>
      val fa = fps.find(_._1 == da).get._2
      val fb = fps.find(_._1 == db).get._2
      assert(ham(fa, fb) == h, s"pair ($da,$db) distance mismatch")
    }
  }

  test("hashEmbedDocs: embeddings separate near-dup pairs from random pairs") {
    import spark.implicits._
    val vecs = TextOps.hashEmbedDocs(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1)
      .map { case (id, rows) =>
        val v = new Array[Long](64); rows.foreach(r => v(r._2) = r._3); id -> v
      }
    // dense 64-dim output for every doc
    val nDocs = graft.Tables.load(spark, sf001, "documents").count()
    assert(vecs.size == nDocs)
    def cos(a: Array[Long], b: Array[Long]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < 64) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
      if (na == 0 || nb == 0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
    }
    val nearDup = Dedup.minhashLsh(spark, sf001)
      .select("da", "db").as[(Long, Long)].collect()
    assert(nearDup.nonEmpty)
    val dupCos = nearDup.map { case (a, b) => cos(vecs(a), vecs(b)) }
    val ids = vecs.keys.toArray.sorted
    val dupSet = nearDup.toSet
    val randCos = (for {
      i <- 0 until 200
      a = ids(i % ids.length); b = ids((i * 7 + 13) % ids.length)
      if a < b && !dupSet((a, b))
    } yield cos(vecs(a), vecs(b)))
    // token-overlap signal must survive the 64-dim projection: near-dup
    // pairs (shingle-Jaccard >= 0.5) sit far above random pairs
    val dupMean = dupCos.sum / dupCos.length
    val randMean = randCos.sum / randCos.length
    assert(dupMean > randMean + 0.1,
      s"hash-embed cosine: near-dup mean $dupMean vs random mean $randMean")
  }

  test("pagerankNearDup: mass conserved, isolated pairs at the fixed point") {
    import spark.implicits._
    val pr = Dedup.pagerankNearDup(spark, sf001).as[(Long, Long)].collect().toMap
    assert(pr.nonEmpty)
    // every rank >= the damping base; total mass within truncation loss of n*1e6
    assert(pr.values.forall(_ >= 150000L))
    val n = pr.size
    assert(pr.values.sum <= n * 1000000L)
    assert(pr.values.sum >= (n * 1000000L * 95L) / 100L, "lost >5% mass to truncation")
    // a node whose only neighbor has degree 1 too (isolated mutual pair) is
    // exactly at the 1e6 fixed point: share = (85e6)//(100) = 850000,
    // next = 150000 + 850000
    val edges = Dedup.minhashLsh(spark, sf001).select("da", "db").as[(Long, Long)].collect()
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    adj.foreach { case (v, ns) =>
      if (ns.size == 1 && adj(ns.head) == Set(v))
        assert(pr(v) == 1000000L, s"isolated pair node $v not at fixed point: ${pr(v)}")
    }
  }

  test("ingestSemanticDedup: cross-set only, every rejection justified, none missed") {
    import spark.implicits._
    val out = Similarity.ingestSemanticDedup(spark, sf001)
      .as[(Long, Long, Double)].collect()
    assert(out.nonEmpty, "fixture should reject at least one batch vector")
    val emb = graft.Tables.load(spark, sf001, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val wm = emb.map(_._1).max / 3
    out.foreach { case (s, b, c) =>
      assert(s < wm && b >= wm, s"pair ($s,$b) violates the store/batch split")
      assert(c >= 0.4)
    }
    // completeness: recompute the cell assignment with the public quantizer
    // API and brute-force every same-cell cross-set pair
    val sample = emb.filter(_._1 < 1024).sortBy(_._1).map(_._2)
    val cent = Similarity.trainCentroids(sample, k = 16, iters = 5)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val cellOf = emb.map { case (id, v) =>
      id -> Similarity.nearestCentroids(v.toSeq, cent, 1).head }.toMap
    val expected = (for {
      (sid, sv) <- emb; if sid < wm
      (bid, bv) <- emb; if bid >= wm
      if cellOf(sid) == cellOf(bid) && cos(sv, bv) >= 0.4
    } yield (sid, bid)).toSet
    assert(out.map(p => (p._1, p._2)).toSet == expected,
      "emitted rejections must be exactly the same-cell cross-set pairs >= tau")
  }

  test("randomProject: signs agree with the q28 LSH, distances correlate (JL)") {
    import spark.implicits._
    val proj = Similarity.randomProject(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1)
      .map { case (id, rows) =>
        val v = new Array[Long](16); rows.foreach(r => v(r._2) = r._3); id -> v
      }
    val emb = graft.Tables.load(spark, sf001, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    assert(proj.size == emb.size)
    // internal consistency: the projection's sign bits ARE the q28 LSH
    // signature (same plane matrix, same grid) for the 4 planes it uses
    emb.foreach { case (id, v) =>
      val sig = VectorFns.hyperplaneSig(v.toSeq, 4)
      (0 until 4).foreach { p =>
        assert((proj(id)(p) >= 0) == (((sig >> p) & 1) == 1),
          s"vec $id plane $p: projection sign disagrees with hyperplaneSig")
      }
    }
    // JL property: projected euclidean distance tracks the original distance
    // over sampled pairs. k=16 planes means eps ~ 1 distortion, and random
    // uniform data concentrates pairwise distances, so the correlation is
    // structurally modest (~0.36 here) — the gate proves signal, exactness
    // is proven by the oracle and the sign check above.
    val ids = emb.keys.toArray.sorted
    def d2o(a: Long, b: Long): Double = {
      val (x, y) = (emb(a), emb(b)); var s = 0.0; var i = 0
      while (i < x.length) { val t = x(i).toDouble - y(i); s += t * t; i += 1 }; s
    }
    def d2p(a: Long, b: Long): Double = {
      val (x, y) = (proj(a), proj(b)); var s = 0.0; var i = 0
      while (i < 16) { val t = (x(i) - y(i)).toDouble; s += t * t; i += 1 }; s
    }
    val pairs = (0 until 300).map(i =>
      (ids(i % ids.length), ids((i * 17 + 7) % ids.length))).filter(p => p._1 != p._2)
    val xs = pairs.map(p => d2o(p._1, p._2)); val ys = pairs.map(p => d2p(p._1, p._2))
    val (mx, my) = (xs.sum / xs.size, ys.sum / ys.size)
    val cov = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
    val corr = cov / math.sqrt(
      xs.map(x => (x - mx) * (x - mx)).sum * ys.map(y => (y - my) * (y - my)).sum)
    assert(corr >= 0.25, s"projected-vs-original distance correlation $corr")
  }

  test("streamingSemanticAdmission: store dup rejected, fresh admitted, re-send dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // store: two orthogonal-ish base vectors; quantizer trained on the store
    val base1 = Seq.tabulate(64)(d => if (d < 32) 1.0f else 0.0f)
    val base2 = Seq.tabulate(64)(d => if (d >= 32) 1.0f else 0.0f)
    val store = Seq((100L, base1), (101L, base2)).toDF("vec_id", "embedding")
    val cent = Similarity.trainCentroids(Array(base1.toArray, base2.toArray), k = 2, iters = 2)
    val mem = MemoryStream[(Long, Seq[Float])]
    val out = Similarity.streamingSemanticAdmission(
      mem.toDF.toDF("vec_id", "embedding"), store, cent)
      .writeStream.format("memory").queryName("sem_admit").outputMode("append").start()
    try {
      // batch 1: near-store (cos ~1 vs base1) must be REJECTED; a mixed
      // vector far from both bases must be ADMITTED
      val nearStore = Seq.tabulate(64)(d => if (d < 32) 0.9f else 0.1f)
      val fresh = Seq.tabulate(64)(d => if (d % 2 == 0) 1.0f else -1.0f)
      mem.addData((1L, nearStore), (2L, fresh))
      out.processAllAvailable()
      val b1 = spark.table("sem_admit").select("vec_id").as[Long].collect().toSet
      assert(b1 == Set(2L), s"batch 1 admitted $b1 (want only the fresh vector)")
      // batch 2: exact re-send of vec_id 2 must be dropped by the
      // cross-batch dedup state
      mem.addData((2L, fresh))
      out.processAllAvailable()
      val b2 = spark.table("sem_admit").select("vec_id").as[Long].collect()
      assert(b2.length == 1, s"re-sent vec_id must not be admitted twice: ${b2.toSeq}")
    } finally out.stop()
  }

  test("pqAnn: recalls planted-cluster neighbors where PQ's premise holds") {
    import spark.implicits._
    // PQ's contract is clusterable data; on the uniform random fixture the
    // codebook error swamps the concentrated neighbor gaps (documented, same
    // caveat as annLsh), so the recall gate runs on PLANTED structure:
    // 30 centers x 10 members, member = center + small noise, queries 0-9 in
    // ten distinct clusters.
    val rnd = new scala.util.Random(42)
    val dim = 64
    val centers = Array.fill(30, dim)(rnd.nextFloat() * 2f - 1f)
    val rows = (0 until 300).map { i =>
      val c = i % 30
      (i.toLong,
        Seq.tabulate(dim)(d => centers(c)(d) + (rnd.nextFloat() - 0.5f) * 0.05f),
        c)
    }
    val dir = tempDir("graft-pq")
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = Similarity.pqAnn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val byQ = out.groupBy(_._1)
    assert(byQ.keySet == (0L until 10L).toSet)
    // every ADC top-3 neighbor is one of the query's own planted cluster mates
    out.foreach { case (q, n, _, _) =>
      assert(n % 30 == q % 30, s"query $q: neighbor $n is from a different planted cluster")
    }
    // ranks dense; adist ascends with rank
    byQ.values.foreach { rs =>
      val sorted = rs.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1 to rs.length))
      assert(sorted.map(_._3).toSeq == sorted.map(_._3).sorted.toSeq)
    }
  }

  test("dedupWeightedStats: matches a driver recomputation; dups genuinely discount") {
    import spark.implicits._
    val out = Dedup.dedupWeightedStats(spark, sf001)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    val labels = Dedup.nearDupClusters(spark, sf001)
      .as[(Long, Long)].collect().toMap
    val csize = labels.values.groupBy(identity).map { case (k, v) => k -> v.size }
    val docs = graft.Tables.load(spark, sf001, "documents")
      .select("doc_id", "source", "text").as[(Long, String, String)].collect()
    val expect = docs.groupBy(_._2).map { case (src, ds) =>
      val rows = ds.map { case (id, _, text) =>
        val tokens = "[a-z0-9]+".r.findAllIn(text.toLowerCase).size.toLong
        val w = 1048576L / labels.get(id).map(csize).getOrElse(1)
        (tokens, w)
      }
      src -> (ds.length.toLong, rows.map(_._2).sum, rows.map(_._1).sum,
        rows.map(r => r._1 * r._2).sum)
    }
    assert(out == expect, "per-source dedup-weighted sums must match the driver recount")
    // the discount bites: some source has near-dups, so eff_docs < docs * 2^20
    assert(out.exists { case (_, (d, eff, _, _)) => eff < d * 1048576L },
      "fixture has near-dups; at least one source must be discounted")
  }

  test("ivfPq: recalls planted-cluster neighbors through the composite index") {
    import spark.implicits._
    // same planted regime as the pqAnn spec: 30 centers x 10 members; the
    // composite must route a query to its own cluster's cell AND rank its
    // mates first under residual-ADC
    val rnd = new scala.util.Random(7)
    val dim = 64
    val centers = Array.fill(30, dim)(rnd.nextFloat() * 2f - 1f)
    val rows = (0 until 300).map { i =>
      val c = i % 30
      (i.toLong,
        Seq.tabulate(dim)(d => centers(c)(d) + (rnd.nextFloat() - 0.5f) * 0.05f),
        c)
    }
    val dir = tempDir("graft-ivfpq")
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = Similarity.ivfPq(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val byQ = out.groupBy(_._1)
    assert(byQ.keySet == (0L until 10L).toSet)
    out.foreach { case (q, n, _, _) =>
      assert(n % 30 == q % 30, s"query $q: neighbor $n is from a different planted cluster")
    }
    byQ.values.foreach { rs =>
      val sorted = rs.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1 to rs.length))
      assert(sorted.map(_._3).toSeq == sorted.map(_._3).sorted.toSeq)
    }
  }

  test("semanticDedup: min-id rule exactly matches a driver-side recomputation") {
    val out = Similarity.semanticDedup(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
    val emb = graft.Tables.load(spark, sf001, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    assert(out.length == emb.size, "one row per vector — the output is a partition of the corpus")
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val dropped = out.filterNot(_._3).map(_._1).toSet
    assert(dropped.nonEmpty, "fixture should contain semantic duplicates")
    // per cell: a vector is dropped iff SOME smaller-id cell-mate is >= tau —
    // so no kept pair above tau survives within a cell, and every drop is
    // justified by a real above-threshold mate (not just bucket noise)
    out.groupBy(_._2).foreach { case (_, members) =>
      val ids = members.map(_._1).sorted
      ids.foreach { v =>
        val hasSmallerMate = ids.exists(u => u < v && cos(emb(u), emb(v)) >= 0.4)
        assert(hasSmallerMate == dropped.contains(v),
          s"vec $v: kept/dropped inconsistent with the min-id rule")
      }
    }
  }

  test("exact dedup groups by full-content fingerprint") {
    val d = Dedup.exact(spark, sf001)
    val total = d.agg(sum("dup_ct")).collect().head.getLong(0)
    val docs = graft.Tables.load(spark, sf001, "documents").count()
    assert(total == docs, "every doc lands in exactly one fingerprint group")
  }

  test("annLsh returns a subset of true neighbors with decent recall") {
    val exact = Similarity.knnBruteForce(spark, sf001)
      .filter(col("rnk") <= 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.annLsh(spark, sf001)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = ann.intersect(exact).size.toDouble / exact.size
    // multi-probe 4-bit LSH on random 64-dim data: modest recall by design;
    // the point is bucketing correctness, not parity with brute force.
    assert(recall >= 0.2, s"ann recall $recall vs exact top-3")
    assert(ann.nonEmpty)
  }

  test("dimAblation: driver prefix-slice replay; full-dim row audits at recall 1") {
    val vecs = graft.Tables.load(spark, sf001, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val grid = vecs.map { case (id, v) =>
      id -> v.map(x => math.floor(x.toDouble * 1048576.0).toLong) }.toMap
    val ids = vecs.map(_._1)
    def topk(d: Int): Map[Long, Seq[Long]] =
      ids.filter(_ < 10).map { qid =>
        val qs = grid(qid).take(d)
        val qn = math.sqrt(qs.map(x => (x * x).toDouble).sum)
        qid -> ids.filter(_ != qid).map { nid =>
          val cs = grid(nid).take(d)
          val cn = math.sqrt(cs.map(x => (x * x).toDouble).sum)
          val dot = qs.zip(cs).map { case (a, b) => a * b }.sum.toDouble
          val qcos = if (qn * cn > 0) dot / (qn * cn) else -2.0
          (qcos, nid)
        }.sortBy { case (qc, nid) => (-qc, nid) }.take(3).map(_._2).toSeq
      }.toMap
    val truth = topk(64)
    val expect = Seq(8, 16, 32, 64).map { d =>
      val t = topk(d)
      val hits = t.map { case (q, ns) => ns.count(truth(q).contains) }.sum.toLong
      val possible = t.values.map(_.size).sum.toLong
      d.toLong -> ((possible, hits, hits * 1048576L / possible))
    }.toMap
    val got = Similarity.dimAblation(spark, sf001).collect()
      .map(r => r.getAs[Int]("dim").toLong ->
        ((r.getAs[Long]("possible"), r.getAs[Long]("hits"),
          r.getAs[Long]("recall_q")))).toMap
    assert(got == expect, s"got $got\nexpect $expect")
    assert(got(64L)._3 == 1048576L, "full-dim recall must audit at exactly 1")
    assert(got(8L)._3 < 1048576L,
      "an 8-dim prefix recalling perfectly means the fixture tests nothing")
  }

  test("sourceOverlap: driver set-intersection replay; Broder inequalities hold") {
    val rows = graft.Tables.load(spark, sf001, "documents")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val sets = rows.groupBy(_._1).map { case (s, ds) =>
      s -> ds.flatMap { case (_, t) =>
        val toks = "[a-z0-9]+".r.findAllIn(t.toLowerCase).toVector
        toks.sliding(3).filter(_.size == 3).map(_.mkString(" "))
      }.toSet
    }
    val srcs = sets.keys.toSeq.sorted
    val expect = (for {
      a <- srcs; b <- srcs if a < b
    } yield {
      val (na, nb) = (sets(a).size.toLong, sets(b).size.toLong)
      val inter = sets(a).intersect(sets(b)).size.toLong
      (a, b) -> ((na, nb, inter,
        inter * 1048576L / (na + nb - inter), inter * 1048576L / math.min(na, nb)))
    }).toMap
    val got = Dedup.sourceOverlap(spark, sf001).collect()
      .map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b")) ->
        ((r.getAs[Long]("na"), r.getAs[Long]("nb"), r.getAs[Long]("inter"),
          r.getAs[Long]("jaccard_q"), r.getAs[Long]("containment_q")))).toMap
    assert(got == expect)
    assert(got.size == srcs.size * (srcs.size - 1) / 2, "every pair must be present")
    // Broder: jaccard <= containment <= 1, and the fixture carries signal
    got.values.foreach { case (_, _, _, j, c) =>
      assert(j <= c && c <= 1048576L) }
    assert(got.values.exists(_._3 > 0), "no overlapping pair — matrix tests nothing")
  }

  test("sourceOverlap cell closure: a too-wide source dimension fires the named refusal before any driver collect") {
    // VERDICT r17 #7 / ADVICE #1 — the sourceSelectFrom twin: the cellCap
    // guard fires from the Spark-side count of the persisted cell frame,
    // never after a driver collect. Provable with a tiny frame because
    // cellCap is a call-site parameter.
    import spark.implicits._
    val st = (1 to 6).map(i => (s"s$i", s"sh$i")).toDF("source", "sh")
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[IllegalArgumentException] {
      Dedup.sourceOverlapFrom(st, cellCap = 5)
    }
    assert(e.getMessage.contains("source-combination cells exceed"),
      s"named refusal expected, got: ${e.getMessage}")
    assert((spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore).isEmpty,
      "the refusal must release the persisted cell frame")
  }

  test("centroidDrift: driver centroid replay; a shifted clone of a source drifts, the source itself doesn't") {
    val docs = graft.Tables.load(spark, sf001, "documents")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val embs = graft.Tables.load(spark, sf001, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      .filter { case (id, _) => docs.contains(id) }
    val grid = embs.map { case (id, v) =>
      id -> v.map(x => math.floor(x.toDouble * 1048576.0).toLong) }
    val cents = grid.groupBy { case (id, _) => docs(id) }.map { case (src, vs) =>
      val n = vs.length.toLong
      val sums = vs.map(_._2).transpose.map(_.sum)
      src -> ((n, sums.map(_ / n).toArray))
    }
    val srcs = cents.keys.toSeq.sorted
    val expect = (for { a <- srcs; b <- srcs if a < b } yield {
      val d = cents(a)._2.zip(cents(b)._2).map { case (x, y) => (x - y) * (x - y) }.sum
      (a, b) -> ((cents(a)._1, cents(b)._1, d))
    }).toMap
    val got = Similarity.centroidDrift(spark, sf001).collect()
      .map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b")) ->
        ((r.getAs[Long]("n_a"), r.getAs[Long]("n_b"), r.getAs[Long]("l2sq")))).toMap
    assert(got == expect)
    assert(got.size == srcs.size * (srcs.size - 1) / 2)
    // the MMD point, locally: a +0.5-per-dim shifted clone of src0's
    // vectors drifts ~64*(0.5*2^20)^2 from src0, while src0 vs itself is 0
    val c0 = cents(srcs.head)._2
    val shifted = c0.map(_ + (1048576L / 2))
    val drift = c0.zip(shifted).map { case (x, y) => (x - y) * (x - y) }.sum
    assert(drift == 64L * (1048576L / 2) * (1048576L / 2))
    assert(c0.zip(c0).map { case (x, y) => (x - y) * (x - y) }.sum == 0L)
  }

  test("sourceRedundancy: driver sampled-pair replay; a cloned source maxes the score") {
    def u52(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 13), 16)
    val rows = graft.Tables.load(spark, sf001, "documents")
      .select("source", "doc_id", "text").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    def shs(t: String): Set[String] = {
      val toks = "[a-z0-9]+".r.findAllIn(t.toLowerCase).toVector
      toks.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet
    }
    val expect = rows.groupBy(_._1).map { case (src, ds) =>
      val sample = ds.sortBy { case (_, id, _) => (u52(s"red_$id"), id) }.take(32)
        .map { case (_, id, t) => (id, shs(t)) }
      val pairs = for {
        (ia, sa) <- sample; (ib, sb) <- sample if ia < ib
      } yield {
        val inter = sa.intersect(sb).size.toLong
        val uni = sa.size + sb.size - inter
        if (uni > 0) inter * 1048576L / uni else 0L
      }
      src -> ((pairs.length.toLong, pairs.sum / pairs.length))
    }
    val got = Dedup.sourceRedundancy(spark, sf001).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_pairs"), r.getAs[Long]("mean_jac_q")))).toMap
    assert(got == expect)
    // the redundancy point, locally: a source of identical docs scores 2^20
    // exactly, a source of disjoint docs scores 0 — real sources in between
    val same = Set("a b c", "b c d"); val other = Set("x y z", "y z w")
    assert(same.intersect(same).size * 1048576L / same.size == 1048576L)
    assert(same.intersect(other).isEmpty)
    assert(got.values.forall { case (_, m) => m >= 0 && m < 1048576L })
  }

  test("winnowPairs recovers the strongest near-duplicates with verified containment") {
    val strong = Dedup.ngramJaccard(spark, sf001)
      .filter(col("jac") >= 0.9).select("da", "db")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wp = Dedup.winnowPairs(spark, sf001)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Double]("containment"))).toMap
    assert(wp.nonEmpty)
    assert(wp.values.forall(c => c >= 0.5 && c <= 1.0))
    val recall = strong.count(wp.contains).toDouble / strong.size
    assert(recall >= 0.8, s"winnow should catch jac>=0.9 pairs: recall $recall")
  }

  test("cleanCorpus output contract: quality floor, no exact dups, no near-dup pairs") {
    val out = TextOps.cleanCorpus(spark, sf001)
    val survivors = out.collect().map(_.getAs[Long]("doc_id")).toSet
    val all = graft.Tables.load(spark, sf001, "documents")
    assert(survivors.nonEmpty && survivors.size < all.count(),
      s"${survivors.size} should survive (near-dups exist in fixture)")
    // 1. every survivor meets the quality floor
    assert(out.filter(col("token_ct") < 10).count() == 0)
    // 2. no two survivors share identical text
    val survivorDocs = all.filter(col("doc_id").isin(survivors.toSeq: _*))
    assert(survivorDocs.groupBy("text").count().filter(col("count") > 1).count() == 0)
    // 3. the cleaned corpus contains NO near-dup pair (the pipeline's contract)
    assert(Dedup.minhashLshFrom(survivorDocs.select("doc_id", "text")).count() == 0)
  }

  test("nearDupClusters matches driver-side union-find on the pair graph") {
    val pairs = Dedup.minhashLsh(spark, sf001)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1)))
    // reference union-find in the driver
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = pairs.flatMap(p => Seq(p._1, p._2)).distinct.map(x => x -> find(x)).toMap
    val got = Dedup.nearDupClusters(spark, sf001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, s"diff: ${got.toSet -- want.toSet} / ${want.toSet -- got.toSet}")
    // force the DISTRIBUTED regime (large-star/small-star) on the same graph:
    // identical labels from a path that never collects the edge list
    val distributed = Dedup.clusters(Dedup.minhashLsh(spark, sf001), collectThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(distributed == want,
      s"large-star/small-star diff: ${distributed.toSet -- want.toSet} / ${want.toSet -- distributed.toSet}")
  }

  test("large-star/small-star handles chains, hubs and singleton pairs") {
    import spark.implicits._
    // a 6-node chain (worst diameter), a star hub, and an isolated pair
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), // chain 1..6
      (10L, 11L), (10L, 12L), (10L, 13L),               // hub rooted at 10
      (20L, 21L))                                        // pair
      .toDF("da", "db")
    val got = Dedup.clusters(pairs, collectThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (1L to 6L).map(_ -> 1L).toMap ++
      Seq(10L, 11L, 12L, 13L).map(_ -> 10L).toMap ++ Map(20L -> 20L, 21L -> 20L)
    assert(got == want, s"got $got")
  }

  test("ivfAnn probes nprobe cells and recovers most true neighbors") {
    val exact = Similarity.knnBruteForce(spark, sf001)
      .filter(col("rnk") <= 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfAnn(spark, sf001)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = ivf.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.4, s"ivf recall $recall vs exact top-3 (nprobe/k = 4/16)")
    // deterministic across invocations
    val again = Similarity.ivfAnn(spark, sf001)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == ivf)
  }

  test("annRecall: per-query hits equal an independent exact∩ivf recount; recall in [0,1]") {
    val exact = Similarity.knnBruteForce(spark, sf001)
      .filter(col("rnk") <= 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfAnn(spark, sf001)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = exact.groupBy(_._1).map { case (q, rows) =>
      val hits = rows.count(ivf.contains).toLong
      (q, hits, hits.toDouble / 3.0)
    }.toSet
    val got = Similarity.annRecall(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want, s"recall recount diverges:\n got  $got\n want $want")
    assert(got.size == 10 && got.forall(r => r._3 >= 0.0 && r._3 <= 1.0))
    // the metric must be able to move: the fixture's IVF at nprobe/k=4/16
    // neither recovers everything nor nothing (else the gate can't see a
    // recall regression)
    val mean = got.toSeq.map(_._3).sum / got.size
    assert(mean > 0.0 && mean < 1.0, s"degenerate fixture: mean recall $mean")
  }

  test("pqRecall: per-query hits equal an independent exact∩ivfPq recount; quantization can only lose vs the probe set") {
    val exact = Similarity.knnBruteForce(spark, sf001)
      .filter(col("rnk") <= 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.ivfPq(spark, sf001)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = exact.groupBy(_._1).map { case (q, rows) =>
      val hits = rows.count(pq.contains).toLong
      (q, hits, hits.toDouble / 3.0)
    }.toSet
    val got = Similarity.pqRecall(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want, s"pq recall recount diverges:\n got  $got\n want $want")
    assert(got.size == 10 && got.forall(r => r._3 >= 0.0 && r._3 <= 1.0))
    val mean = got.toSeq.map(_._3).sum / got.size
    assert(mean > 0.0, s"degenerate fixture: pq finds nothing ($mean)")
  }

  test("approxDistinctDaily stays within HLL tolerance of the exact count") {
    // the query is now self-checking (emits uv_exact + an approx_ok flag the
    // oracle pins): assert the flag is true everywhere and the exact column
    // matches an independently computed count(distinct)
    val rows = Relational.approxDistinctDaily(spark, sf0001)
      .collect().map(r => r.getString(0) -> ((r.getAs[Long]("uv_exact"), r.getAs[Boolean]("approx_ok")))).toMap
    val exact = graft.Tables.load(spark, sf0001, "events")
      .groupBy(date_format(date_trunc("day", col("event_time")), "yyyy-MM-dd").as("dt"))
      .agg(countDistinct(col("user_id")).as("uv"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.keySet == exact.keySet)
    exact.foreach { case (dt, ex) =>
      val (uvExact, ok) = rows(dt)
      assert(uvExact == ex, s"$dt: uv_exact $uvExact vs recomputed $ex")
      assert(ok, s"$dt: approx estimate drifted beyond 15% of $ex")
    }
  }

  test("dot_f Catalyst expression is bit-identical to the composed column version") {
    VectorExpressions.register(spark)
    val e = graft.Tables.load(spark, sf0001, "embeddings").limit(200)
    val both = e.select(
      VectorFns.dotCol(col("embedding"), col("embedding")).as("slow"),
      VectorFns.dotFastCol(col("embedding"), col("embedding")).as("fast"))
    assert(both.filter(col("slow") =!= col("fast")).count() == 0)
  }

  test("tokenize_gen generator matches udf+explode through LATERAL VIEW") {
    graft.plans.TokenizeGenerator.register(spark)
    graft.Tables.load(spark, sf0001, "documents").limit(50).createOrReplaceTempView("tg_docs")
    val gen = spark.sql(
      "SELECT doc_id, t.token FROM tg_docs LATERAL VIEW tokenize_gen(text) t AS token")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val viaUdf = spark.table("tg_docs")
      .select(col("doc_id"), explode(graft.functions.TextFns.tokenizeUdf(col("text"))).as("token"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(gen == viaUdf, "generator and udf+explode must produce identical rows in order")
    assert(gen.nonEmpty)
  }

  test("knnQuantized (int8) recovers the exact float top-3 with high recall") {
    val exact = Similarity.knnBruteForce(spark, sf001)
      .filter(col("rnk") <= 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = Similarity.knnQuantized(spark, sf001)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = quant.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"int8 quantization recall $recall vs exact top-3")
  }

  test("hyperplaneSig with the memoized plane matrix is bit-identical to inline derivation") {
    // the memoized plane matrix (computed once per (nPlanes, dim), not per
    // row per element) must not move a single bucket id vs inline derivation
    def inlineSig(v: Seq[Float], nPlanes: Int): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      var sig = 0; var p = 0
      while (p < nPlanes) {
        var dot = 0L; var d = 0
        while (d < v.length) {
          md.reset()
          val h = md.digest(s"${p}_${d}".getBytes(java.nio.charset.StandardCharsets.UTF_8))
          dot += math.floor(v(d).toDouble * 1048576.0).toLong * (if ((h(0) & 1) == 1) 1 else -1)
          d += 1
        }
        if (dot >= 0) sig |= (1 << p); p += 1
      }
      sig
    }
    val vecs = graft.Tables.load(spark, sf0001, "embeddings").limit(300)
      .select("embedding").collect().map(_.getSeq[Float](0))
    assert(vecs.nonEmpty)
    for (nPlanes <- Seq(4, 16); v <- vecs)
      assert(VectorFns.hyperplaneSig(v, nPlanes) == inlineSig(v, nPlanes))
  }

  test("dot_i matches the HOF int dot bit-for-bit and stays in codegen") {
    VectorExpressions.register(spark)
    val e = graft.Tables.load(spark, sf0001, "embeddings").limit(200)
      .withColumn("qv", expr("transform(embedding, x -> cast(round(x * 100) as int))"))
    val both = e.select(
      expr("aggregate(zip_with(qv, qv, (x, y) -> cast(x as bigint) * y), " +
        "cast(0 as bigint), (a, v) -> a + v)").as("slow"),
      call_function("dot_i", col("qv"), col("qv")).as("fast"))
    assert(both.filter(col("slow") =!= col("fast")).count() == 0)
    val plan = e.select(call_function("dot_i", col("qv"), col("qv")))
      .queryExecution.executedPlan.toString
    // the dot_i projection must sit inside a WholeStageCodegen stage ("*(n)")
    assert(plan.linesIterator.exists(l => l.contains(") Project [dot_i") && l.contains("*(")), plan)
  }

  test("dot_f participates in whole-stage codegen") {
    VectorExpressions.register(spark)
    val e = graft.Tables.load(spark, sf0001, "embeddings")
    val plan = e.select(VectorFns.dotFastCol(col("embedding"), col("embedding")))
      .queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators inside a WholeStageCodegen stage
    assert(plan.linesIterator.next().trim.startsWith("*(1) Project [dot_f"), plan)
  }

  test("streamingIngest admits only store-new, stream-new fingerprints across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = Seq("old one", "old two").toDF("text")
      .select(md5(col("text").cast("binary")).as("fingerprint"))
    val ms = MemoryStream[(Long, String)]
    val q = Dedup.streamingIngest(ms.toDS().toDF("doc_id", "text"), store)
      .writeStream.format("memory").queryName("ingest_out").outputMode("append").start()
    try {
      ms.addData(1L -> "old one", 2L -> "fresh a", 3L -> "fresh a", 4L -> "fresh b")
      q.processAllAvailable()
      val b1 = spark.table("ingest_out").select("text").as[String].collect()
      assert(b1.sorted.toSeq == Seq("fresh a", "fresh b"),
        s"batch 1: store dup dropped, in-batch dup admitted once; got ${b1.toSeq}")
      ms.addData(5L -> "fresh a", 6L -> "old two", 7L -> "fresh c")
      q.processAllAvailable()
      val b2 = spark.table("ingest_out").select("text").as[String].collect()
      assert(b2.sorted.toSeq == Seq("fresh a", "fresh b", "fresh c"),
        s"batch 2: cross-batch dup and store dup dropped; got ${b2.toSeq}")
    } finally q.stop()
  }

  test("bloomIngestDedup: row-for-row equal to the exact anti-join, both paths exercised, store never shuffled") {
    import spark.implicits._
    // On the real fixture (no duplicate texts — every batch row is novel,
    // the pure fast-path regime): equality with q74's exact computation.
    val exact = Dedup.ingestDedup(spark, sf0001)
      .as[(String, Long, Long)].collect().toSet
    val bloomed = Dedup.bloomIngestDedup(spark, sf0001)
    val got = bloomed.as[(String, Long, Long)].collect().toSet
    assert(got == exact, "bloom-prefiltered admission must equal q74's exact set")

    // Crafted corpus with BOTH drop paths live: store dups (texts repeated
    // across the wm=max/3 split) and in-batch dups (repeated within the
    // batch). max(doc_id)=29 → wm=9: ids 0-8 store, 9-29 batch.
    val crafted = ((0 until 30).map { i =>
      val text = i match {
        case 9 | 10 => "store text 3"          // batch rows duplicating store
        case 11 | 12 | 13 => "batch novel rep" // in-batch triple, admit once
        case n => s"${if (n < 9) "store" else "batch"} text ${n % 6}"
      }
      (i.toLong, text)
    }).toDF("doc_id", "text")
    val craftedGot = Dedup.bloomIngestDedupFrom(crafted)
      .as[(String, Long, Long)].collect().toSet
    // exact reference: admitted = batch fp absent from store, min id, count
    val cd = crafted.select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
    val storeFp = cd.filter(col("doc_id") < 9).select("fp").as[String].collect().toSet
    val expect = cd.filter(col("doc_id") >= 9).as[(Long, String)].collect()
      .filterNot { case (_, fp) => storeFp(fp) }
      .groupBy(_._2).map { case (fp, rows) =>
        (fp, rows.map(_._1).min, rows.length.toLong) }.toSet
    assert(craftedGot == expect, "crafted corpus: both drop paths must agree with exact semantics")
    assert(craftedGot.exists(_._3 == 3L), "in-batch triple must be admitted once with count 3")

    // Both split paths really ran: rebuild the IDENTICAL deterministic
    // filter (same inputs, same sizing, Spark's fixed-seed sketch). Every
    // true dup must hit it (no false negatives); at fpp=3% the novel rows
    // overwhelmingly miss it (definite-new fast path carries the bulk).
    val storeDf = cd.filter(col("doc_id") < 9).select(col("fp").as("fingerprint"))
    val bloom = storeDf.stat.bloomFilter("fingerprint", math.max(1L, storeDf.count()), 0.03)
    val (hits, misses) = cd.filter(col("doc_id") >= 9).select("fp").as[String].collect()
      .partition(bloom.mightContainString)
    assert(hits.length >= 2, "store-dup rows must hit the filter")
    assert(misses.length >= 10, "the definite-new fast path must carry the bulk of the novel rows")

    // Scale shape: the store feeds only broadcast joins — no SortMergeJoin
    // anywhere; the only exchanges are the wm scalar agg and the final
    // fingerprint rollup.
    val plan = bloomed.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), s"store must never shuffle-join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), "verification must ride broadcast joins")
  }

  /** Straight-line Lloyd reference with kmeansAssign's exact rules: 2²⁰-grid
    * points, argmin ties to lowest cid, truncated integer means, empty
    * clusters keep their centroid. */
  private def lloydReference(pts: Array[(Long, Array[Long])], k: Int,
                             iters: Int): Map[Long, (Int, Long)] = {
    val dim = pts.head._2.length
    var cents = pts.sortBy(_._1).take(k).map(_._2.clone())
    def assign(v: Array[Long]): (Int, Long) = {
      var best = 0; var bestD = Long.MaxValue
      for (c <- cents.indices) {
        var d = 0L; var i = 0
        while (i < dim) { val t = v(i) - cents(c)(i); d += t * t; i += 1 }
        if (d < bestD) { bestD = d; best = c } // strict < : ties keep lowest c
      }
      (best, bestD)
    }
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Long](dim)); val ns = new Array[Long](k)
      pts.foreach { case (_, v) =>
        val c = assign(v)._1
        ns(c) += 1; var i = 0; while (i < dim) { sums(c)(i) += v(i); i += 1 }
      }
      cents = Array.tabulate(k)(c =>
        if (ns(c) == 0) cents(c)
        else Array.tabulate(dim)(i => sums(c)(i) / ns(c)))
    }
    pts.map { case (id, v) => id -> assign(v) }.toMap
  }

  test("kmeansAssign: matches the driver Lloyd replay; ties to lowest cid; empty clusters hold") {
    import spark.implicits._
    val raw = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
    val qpts = raw.map { case (id, v) =>
      id -> v.map(x => math.floor(x.toDouble * 1048576.0).toLong).toArray }
    val want = lloydReference(qpts, k = 8, iters = 4)
    val got = Similarity.kmeansAssign(spark, sf0001)
      .as[(Long, Int, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(got == want, "distributed run must equal the driver replay point-for-point")
    assert(got.values.map(_._1).toSet.size > 1, "clustering must not be degenerate")

    // Tie + empty-cluster semantics on a crafted frame: seeds 0 and 1 are
    // IDENTICAL vectors. At iters=0 every point tied between them must land
    // on cid 0 (struct argmin, lowest cid). At iters=2 cluster 0's centroid
    // MOVES while the empty cluster 1 keeps the stale seed — which then
    // legitimately captures the points still near it; the reference replay
    // pins that exact trajectory (the empty-keeps-centroid rule at work).
    val crafted = Seq(
      0L -> Seq(0f, 0f), 1L -> Seq(0f, 0f), 2L -> Seq(1f, 1f),
      3L -> Seq(0.9f, 0.9f), 4L -> Seq(0.05f, 0.05f)
    ).toDF("vec_id", "embedding")
    val tied = Similarity.kmeansAssignFrom(crafted, k = 2, iters = 0)
      .as[(Long, Int, Long)].collect()
    assert(tied.filter(t => Seq(0L, 1L, 4L).contains(t._1)).forall(_._2 == 0),
      "exact ties between identical seeds must resolve to the lowest cid")
    val cg = Similarity.kmeansAssignFrom(crafted, k = 2, iters = 2)
      .as[(Long, Int, Long)].collect().map(t => t._1 -> t._2).toMap
    val cw = lloydReference(
      crafted.as[(Long, Seq[Float])].collect().map { case (id, v) =>
        id -> v.map(x => math.floor(x.toDouble * 1048576.0).toLong).toArray },
      k = 2, iters = 2)
    assert(cg == cw.map { case (id, (c, _)) => id -> c },
      "crafted-frame assignments must match the reference")
    assert(cg.values.exists(_ == 1),
      "the stale empty-cluster centroid must recapture nearby points (rule exercised)")

    // Scale shape: the returned assignment is map-only — the corpus is never
    // shuffled to be assigned (all shuffles happened inside the M-step jobs).
    val plan = Similarity.kmeansAssign(spark, sf0001).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"assignment must be map-only:\n$plan")
  }

  test("kmeansPrototypes: aggregator selection == per-cluster window, no Window in the plan") {
    import spark.implicits._
    val assign = Similarity.kmeansAssign(spark, sf0001)
    val agg = Similarity.kmeansPrototypesFrom(assign, m = 5)
    val win = Similarity.kmeansPrototypesWindowed(assign, m = 5)
    val a = agg.as[(Int, Long, Long, Int)].collect().toSet
    val w = win.as[(Int, Long, Long, Int)].collect().toSet
    assert(a == w, "k-bounded aggregator must select exactly the window's rows and ranks")
    assert(a.nonEmpty && a.groupBy(_._1).size > 1, "selection must span clusters")
    // every kept rank is contiguous 1..min(m, cluster size)
    a.groupBy(_._1).foreach { case (cid, rows) =>
      assert(rows.map(_._4).toSeq.sorted == (1 to rows.size).toSeq,
        s"cluster $cid ranks must be contiguous from 1")
    }
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"selection must not ride a per-cluster window:\n$plan")
  }

  test("pcaPowerScores: driver replay parity, Rayleigh gain over the start vector, map-only scoring") {
    import spark.implicits._
    val raw = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
    val qpts = raw.map { case (id, v) =>
      id -> v.map(x => math.floor(x.toDouble * 1048576.0).toLong).toArray }
    val dim = qpts.head._2.length
    val gram = Array.fill(dim, dim)(BigInt(0))
    qpts.foreach { case (_, x) =>
      for (i <- 0 until dim; j <- 0 until dim) gram(i)(j) += BigInt(x(i)) * x(j) }
    def iterate(n: Int): Array[BigInt] = {
      var v = Array.fill(dim)(BigInt(1))
      for (_ <- 0 until n) {
        val w = Array.tabulate(dim)(i =>
          (0 until dim).foldLeft(BigInt(0))((a, j) => a + gram(i)(j) * v(j)))
        val m = w.map(_.abs).max
        v = w.map(x => x * BigInt(1048576) / m)
      }
      v
    }
    val vFinal = iterate(8)
    val want = qpts.map { case (id, x) =>
      id -> (0 until dim).foldLeft(BigInt(0))((a, i) => a + BigInt(x(i)) * vFinal(i)).toLong
    }.toMap
    val frame = Similarity.pcaPowerScores(spark, sf0001)
    val got = frame.as[(Long, Long)].collect().toMap
    assert(got == want, "distributed run must equal the driver replay point-for-point")

    // Rayleigh quotient vᵀGv/vᵀv must grow from the all-ones start — the
    // learned direction explains strictly more variance than where it began.
    def rayleigh(v: Array[BigInt]): Double = {
      val num = (0 until dim).foldLeft(BigInt(0))((a, i) =>
        a + v(i) * (0 until dim).foldLeft(BigInt(0))((b, j) => b + gram(i)(j) * v(j)))
      val den = v.foldLeft(BigInt(0))((a, x) => a + x * x)
      num.toDouble / den.toDouble
    }
    assert(rayleigh(vFinal) > rayleigh(Array.fill(dim)(BigInt(1))) * 1.5,
      "power iteration must improve the explained variance materially")

    // final scoring is map-only: direction ships as a literal, no Exchange
    val plan = frame.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"scoring must be map-only:\n$plan")
  }

  test("hardNegatives: dense top-5 per query, never a cluster mate of the query") {
    import spark.implicits._
    val hn = Similarity.hardNegatives(spark, sf001)
      .as[(Long, Long, Int)].collect()
    val byQuery = hn.groupBy(_._1)
    assert(byQuery.nonEmpty)
    byQuery.values.foreach { rows =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length), "rnk must be dense from 1")
      assert(rows.length == 5)
    }
    val labels = Similarity.embeddingClusters(spark, sf001)
      .as[(Long, Long)].collect().toMap
    hn.foreach { case (q, nbr, _) =>
      assert(q != nbr, "a query is never its own negative")
      val sameCluster = labels.get(q).exists(c => labels.get(nbr).contains(c))
      assert(!sameCluster, s"query $q drew cluster mate $nbr as a negative")
    }
    // the exclusion must bite: at least one query has a cluster mate in the
    // corpus that brute-force top-5 would have surfaced
    val plainTop5 = Similarity.knnBruteForce(spark, sf001)
      .as[(Long, Long, Int)].collect()
    val excludedHits = plainTop5.count { case (q, nbr, _) =>
      labels.get(q).exists(c => labels.get(nbr).contains(c))
    }
    assert(excludedHits > 0, "fixture yields no cluster-mate in any top-5; exclusion untested")
  }

  test("canonicalPerCluster max_by keeper equals the windowed construction row-for-row") {
    val agg = Dedup.canonicalPerCluster(spark, sf001)
    val windowed = Dedup.canonicalPerClusterWindowed(spark, sf001)
    assert(agg.columns.toSeq == windowed.columns.toSeq, "schema drift between forms")
    assert(agg.exceptAll(windowed).isEmpty && windowed.exceptAll(agg).isEmpty,
      "de-skewed keeper must be a pure plan change, not a semantic one")
    // the sf0.01 fixture has no in-cluster n_chars tie, so the tiebreak is
    // exercised synthetically: two members share max n_chars, the LOWER id
    // must win (the windowed form's (n_chars DESC, doc_id ASC) rule)
    import spark.implicits._
    val d = Seq((10L, 100L), (11L, 100L), (12L, 50L), (20L, 7L))
      .toDF("doc_id", "n_chars")
    val lbl = Seq((10L, 10L), (11L, 10L), (12L, 10L), (20L, 20L))
      .toDF("doc_id", "cluster_id")
    val rows = Dedup.canonicalPerClusterFrom(d, lbl)
      .orderBy("cluster_id").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq == Seq((10L, 10L, 100L, 3L, 250L), (20L, 20L, 7L, 1L, 7L)),
      "tied max n_chars must keep the lowest doc_id")
  }

  test("canonicalPerCluster plan: no Window on cluster_id, keeper partially aggregated") {
    val plan = Dedup.canonicalPerCluster(spark, sf001).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      "cluster keeper must not sort an unbounded cluster key on one reducer")
    assert(plan.contains("partial_max_by") || plan.contains("partial_maxby"),
      s"max_by keeper must partial-aggregate map-side; plan:\n${plan.take(2000)}")
  }

  test("corpusDiff: every class counted once, token delta exact, text never in the shuffle") {
    import spark.implicits._
    // one doc per class, two sources; 'two more words' = +3 tokens on doc 4
    val v1 = Seq(
      (1L, "web", "kept exactly as it was"),
      (2L, "web", "doc that will disappear"),
      (4L, "lib", "original words here"),
      (5L, "lib", "also unchanged text")).toDF("doc_id", "source", "text")
    val v2 = Seq(
      (1L, "web", "kept exactly as it was"),
      (3L, "web", "brand new arrival"),
      (4L, "lib", "original words here two more words"),
      (5L, "lib", "also unchanged text")).toDF("doc_id", "source", "text")
    val got = Dedup.corpusDiff(v1, v2).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(got == Map(
      "web" -> ((1L, 1L, 0L, 1L, -1L)),  // added doc3 (3 toks) - removed doc2 (4 toks)
      "lib" -> ((0L, 0L, 1L, 1L, 3L))), s"got $got")
    // classes partition the union: sums must cover every doc_id exactly once
    val sums = got.values.map(v => v._1 + v._2 + v._3 + v._4).sum
    assert(sums == 5L, "5 distinct doc_ids across both snapshots")
    // scale shape: the full-outer join exchanges fingerprints, never text
    val plan = Dedup.corpusDiff(v1, v2).queryExecution.optimizedPlan.toString
    val exchangedText = plan.linesIterator
      .filter(_.contains("Join")).exists(_.contains("text"))
    assert(!exchangedText, s"join keys/outputs must not include raw text:\n$plan")
  }

  test("kcenterCoreset: matches the driver greedy replay; radius curve non-increasing; Voronoi loads exact") {
    import spark.implicits._
    val raw = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
    val qpts = raw.toSeq.map { case (id, v) => id -> graft.KCenterRef.grid(v) }
    val trace = graft.KCenterRef.greedy(qpts, 8)
    val asg = graft.KCenterRef.assign(qpts, trace.map(c => (c._1, c._4)))
    val want = trace.flatMap { case (r, vid, sel, _) =>
      val mine = asg.values.filter(_._2 == r).map(_._1)
      if (mine.isEmpty) None
      else Some((r, vid, sel, mine.size.toLong, mine.max, mine.sum))
    }.toSet
    val df = Similarity.kcenterCoreset(spark, sf0001)
    val got = df.as[(Int, Long, Long, Long, Long, Long)].collect().toSet
    assert(got == want,
      s"distributed greedy must equal the driver replay:\n got=$got\nwant=$want")
    val byRound = got.toSeq.sortBy(_._1)
    assert(byRound.head._2 == qpts.map(_._1).min, "seed must be the lowest vec_id")
    assert(byRound.map(_._4).sum == qpts.length.toLong,
      "every point assigned to exactly one center")
    val sels = byRound.filter(_._1 >= 1).map(_._3)
    assert(sels.zip(sels.tail).forall { case (a, b) => b <= a },
      s"greedy sel_d2 curve must be non-increasing: $sels")
    assert(sels.head > 0L, "non-degenerate corpus: the first pick must be distinct from the seed")

    // Scale shape: each selection round reduces the corpus with ONE
    // partial-agged max_by, and the assignment output is a k-key agg —
    // read the plan off the SAME DataFrame the equality gate collected
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"no window anywhere in the q199 plan:\n$plan")
  }

  test("kcenterCoreset: duplicate embeddings yield k DISTINCT centers (round-14 ADVICE #2), matching the mirrored reference") {
    import spark.implicits._
    // 3 distinct geometries, each duplicated 4x — duplicate docs embed
    // identically at corpus scale, so after the 3 distinct modes are chosen
    // every remaining point sits at min-dist² 0; the exclusion must keep
    // picking FRESH vec_ids (lowest unchosen) instead of re-emitting the
    // seed as a duplicate center
    val geoms = Seq(Seq(0.1f, 0.2f, 0.3f), Seq(0.9f, 0.1f, 0.5f), Seq(0.4f, 0.8f, 0.2f))
    val dup = (0 until 12).map(i => (i.toLong, geoms(i % 3))).toDF("vec_id", "embedding")
    val got = Similarity.kcenterSelect(Similarity.kcenterPts(dup), 8)
      .map(c => (c.round, c.vecId, c.selD2)).sortBy(_._1)
    assert(got.size == 8 && got.map(_._2).distinct.size == 8,
      s"8 rounds must pick 8 DISTINCT centers even with duplicate embeddings: $got")
    assert(got.count(_._3 == 0L) == 8 - 3 + 1,
      s"after the 3 distinct modes, every pick is a 0-distance duplicate (plus the seed): $got")
    // the driver reference mirrors the exclusion — exact trace equality
    val qpts = (0 until 12).map(i => i.toLong -> graft.KCenterRef.grid(geoms(i % 3)))
    val want = graft.KCenterRef.greedy(qpts, 8).map(c => (c._1, c._2, c._3))
    assert(got == want, s"got=$got want=$want")
    // the q199 edge output keeps its established semantics: a 0-distance
    // duplicate center attracts no Voronoi points (ties go to the earliest
    // round), so only the 3 distinct-geometry rounds appear in the load
    // join — same drop on both engine sides
    val edge = Similarity.kcenterCoresetFrom(dup, k = 8)
      .select("sel_round").as[Int].collect().toSeq.sorted
    assert(edge == Seq(0, 1, 2),
      s"duplicate-center rounds carry no Voronoi load rows: $edge")
  }

  test("facilityLocation: matches the driver greedy replay; gains non-increasing (submodularity); coverage accumulates") {
    import spark.implicits._
    val raw = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
    val qpts = raw.toSeq.map { case (id, v) => id -> graft.KCenterRef.grid(v) }
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val pool = qpts.sortBy(p => (md5hex(p._1.toString), p._1)).take(16)
    def dot(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    var cur = qpts.map(p => p._1 -> 0L).toMap
    var chosen = Vector.empty[(Int, Long, BigInt, BigInt)]
    for (r <- 0 until 4) {
      val cands = pool.filterNot(c => chosen.exists(_._2 == c._1))
      val gains = cands.map { c =>
        c._1 -> qpts.map(p => BigInt(math.max(0L, dot(p._2, c._2) - cur(p._1)))).sum
      }
      val (vid, gain) = gains.maxBy { case (id, g) => (g, -id) }
      val qv = cands.find(_._1 == vid).get._2
      cur = qpts.map(p => p._1 -> math.max(cur(p._1), dot(p._2, qv))).toMap
      val total = (if (chosen.isEmpty) BigInt(0) else chosen.last._4) + gain
      chosen :+= ((r, vid, gain, total))
    }
    // the edge columns are canonical digit-string VARCHAR (the round-14
    // driver-hash incident) — parse them back to BigInt for the replay gate
    val got = Similarity.facilityLocation(spark, sf0001)
      .as[(Int, Long, String, String)].collect().toSeq.sortBy(_._1)
      .map(t => (t._1, t._2, BigInt(t._3), BigInt(t._4)))
    assert(got == chosen,
      s"distributed greedy must equal the driver replay:\n got=$got\nwant=$chosen")
    // the oracle cross-checks total_cov via direct Σ cur (a DIFFERENT
    // derivation); here pin the local theorems instead
    val gs = got.map(_._3)
    assert(gs.zip(gs.tail).forall { case (a, b) => b <= a },
      s"greedy marginal gains must be non-increasing (submodularity): $gs")
    assert(got.map(_._4) == got.map(_._3).scanLeft(BigInt(0))(_ + _).tail,
      "total coverage must accumulate the gains exactly")
    val poolIds = pool.map(_._1).toSet
    assert(got.map(_._2).forall(poolIds.contains) && got.map(_._2).distinct.size == 4,
      "representatives are distinct pool members")
  }
}
