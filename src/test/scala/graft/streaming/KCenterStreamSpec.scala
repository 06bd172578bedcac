package graft.streaming

import graft.SparkSuite
import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming k-center coreset maintenance (KCenterStream): per-batch
  * Gonzalez picks land as candidate rows; the read runs the identical
  * traversal over the candidate union. The streamed result is NOT the
  * single-level q199 trace (greedy is order-sensitive), so the gates are
  * (a) EXACT equality with a deterministic driver two-level recompute and
  * (b) the composable-coreset radius bound against the single-level cover. */
class KCenterStreamSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(tag: String): String =
    tempDir(s"graft-kcen-$tag")

  private def emb: DataFrame =
    graft.Tables.load(spark, sf001, "embeddings").select("vec_id", "embedding")

  private def batches: Seq[DataFrame] =
    (0 to 2).map(i => emb.filter(col("vec_id") % 3 === i))

  // driver reference: the shared graft.KCenterRef grid + greedy
  import graft.KCenterRef.{d2, greedy, grid}

  private def collected(df: DataFrame): Seq[(Long, Array[Long])] =
    df.as[(Long, Seq[Float])].collect().toSeq.map { case (id, v) => id -> grid(v) }

  test("3-batch maintenance equals the deterministic two-level recompute; store is the candidate union") {
    val store = tmp("store")
    batches.zipWithIndex.foreach { case (b, i) =>
      KCenterStream.applyBatch(spark, b, store, epoch = i.toLong)
    }
    // expected candidates: per-batch greedy picks, unioned
    val perBatch = batches.map(b => greedy(collected(b), 8))
    val wantCand = perBatch.flatten.map(c => (c._2, c._1, c._3)).toSet
    val gotCand = graft.io.Io.readDim(spark, store)
      .select("vec_id", "batch_round", "sel_d2")
      .as[(Long, Int, Long)].collect().toSet
    assert(gotCand == wantCand,
      "stored candidates must be exactly the per-batch greedy picks")
    // expected read: greedy again over the candidate union
    val union = perBatch.flatten.map(c => c._2 -> c._4)
    val want = greedy(union, 8).map(c => (c._1, c._2, c._3)).toSet
    val got = KCenterStream.readCenters(spark, store)
      .as[(Int, Long, Long)].collect().toSet
    assert(got == want,
      "read trace must equal the two-level driver recompute exactly")
  }

  test("composable-coreset radius: streamed centers cover the corpus within the approximation bound") {
    val store = tmp("store-a")
    batches.zipWithIndex.foreach { case (b, i) =>
      KCenterStream.applyBatch(spark, b, store, epoch = i.toLong)
    }
    val all = collected(emb)
    def coverD2(centers: Seq[Array[Long]]): Long =
      all.map(p => centers.map(c => d2(p._2, c)).min).max
    val streamed = KCenterStream.readChosen(spark, store)
      .map(_.qv.map(_.toLong).toArray)
    val single = greedy(all, 8).map(_._4)
    val (rs, rb) = (coverD2(streamed), coverD2(single))
    // constant-factor composability on RADIUS; distances here are SQUARED,
    // so the 4x radius headroom gates at 16x d2 (measured ~1x on fixture)
    assert(rs <= 16L * rb,
      s"streamed cover d2 $rs must be within 16x of single-level $rb")
    assert(rs > 0L && rb > 0L, "non-degenerate cover radii")
  }

  test("sparse store: fewer candidates than k yields exactly that many centers, no duplicates; empty input fails loudly") {
    val store = tmp("store-s")
    val five = emb.filter(col("vec_id") < 5)
    KCenterStream.applyBatch(spark, five, store, epoch = 0L)
    val got = KCenterStream.readCenters(spark, store, k = 8)
      .as[(Int, Long, Long)].collect().toSeq.sortBy(_._1)
    val want = greedy(collected(five), 8).map(c => (c._1, c._2, c._3))
    assert(got == want, "clamped read must equal the clamped reference")
    assert(got.size == 5 && got.map(_._2).distinct.size == 5,
      "every point is a center exactly once when |candidates| < k")
    val err = intercept[IllegalArgumentException] {
      Similarity.kcenterCoresetFrom(
        Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")).collect()
    }
    assert(err.getMessage.contains("empty input frame"),
      "an empty corpus must fail with a named error, not an encoder NPE")
  }

  test("never-written store: read paths fail with the named contract error, not a raw parquet error (round-14 ADVICE #3)") {
    val store = tmp("store-never")
    // a stream of only-empty batches never creates the store
    KCenterStream.applyBatch(spark, emb.filter(col("vec_id") < 0), store, epoch = 0L)
    val e1 = intercept[IllegalStateException] {
      KCenterStream.readCenters(spark, store)
    }
    assert(e1.getMessage.contains("absorbed no batches"),
      s"readCenters must name the empty-store condition: ${e1.getMessage}")
    val e2 = intercept[IllegalStateException] {
      KCenterStream.readChosen(spark, store)
    }
    assert(e2.getMessage.contains("absorbed no batches"),
      s"readChosen must name the empty-store condition: ${e2.getMessage}")
  }

  test("compaction: over-cap store is replaced by its own Gonzalez coreset; under-cap is a no-op; store stays a live upsert target") {
    val store = tmp("store-c")
    val bs = batches
    bs.take(2).zipWithIndex.foreach { case (b, i) =>
      KCenterStream.applyBatch(spark, b, store, epoch = i.toLong)
    }
    // under cap: no-op
    val before = graft.io.Io.readDim(spark, store)
      .select("vec_id", "batch_round", "sel_d2", "last_epoch")
      .as[(Long, Int, Long, Long)].collect().toSet
    KCenterStream.compact(spark, store, capRows = 1000L, keep = 12)
    assert(graft.io.Io.readDim(spark, store)
      .select("vec_id", "batch_round", "sel_d2", "last_epoch")
      .as[(Long, Int, Long, Long)].collect().toSet == before,
      "a store under the cap must be left untouched")
    // over cap (16 candidates > 10): replaced by greedy-12 over the union
    KCenterStream.compact(spark, store, capRows = 10L, keep = 12)
    val union = bs.take(2).flatMap(b => greedy(collected(b), 8))
      .map(c => c._2 -> c._4)
    val wantKept = greedy(union, 12).map(c => (c._1, c._2, c._3)).toSet
    val gotKept = graft.io.Io.readDim(spark, store)
      .select("batch_round", "vec_id", "sel_d2")
      .as[(Int, Long, Long)].collect().toSet
    assert(gotKept == wantKept,
      "the compacted store must be exactly the Gonzalez coreset of the candidate union")
    assert(graft.io.Io.readDim(spark, store)
      .select("last_epoch").as[Long].collect().forall(_ == -1L),
      "compacted rows carry the -1 epoch marker")
    // the store remains a working upsert target after the swap (marker and
    // bucket routing preserved) and the read path still answers
    KCenterStream.applyBatch(spark, bs(2), store, epoch = 2L)
    val post = KCenterStream.readCenters(spark, store)
      .as[(Int, Long, Long)].collect()
    assert(post.length == 8 && post.map(_._2).distinct.length == 8,
      "post-compaction store must keep absorbing batches and answering reads")
    // and the compacted coreset still covers the absorbed corpus within the
    // composable bound against single-level greedy
    val absorbed = collected(emb)
    val chosen = KCenterStream.readChosen(spark, store)
      .map(_.qv.map(_.toLong).toArray)
    val single = greedy(absorbed, 8).map(_._4)
    def coverD2(cs: Seq[Array[Long]]): Long =
      absorbed.map(p => cs.map(c => d2(p._2, c)).min).max
    assert(coverD2(chosen) <= 16L * coverD2(single),
      "post-compaction cover must stay within the approximation headroom")
  }

  test("applyBatch itself triggers the cap: a tiny cap compacts in-stream, deterministically") {
    val store = tmp("store-t")
    val bs = batches
    // cap small enough that maintenance compacts after batches 2 and 3 —
    // the driver never calls compact() itself; the cap is part of the step
    bs.zipWithIndex.foreach { case (b, i) =>
      KCenterStream.applyBatch(spark, b, store, epoch = i.toLong,
        capRows = 4L, keep = 12)
    }
    val picks = bs.map(b => greedy(collected(b), 8).map(c => c._2 -> c._4))
    val k1 = greedy(picks(0) ++ picks(1), 12) // after batch 2: 16 > max(4,12)
    val k2 = greedy(k1.map(c => c._2 -> c._4) ++ picks(2), 12) // after batch 3: 20 > 12
    val want = k2.map(c => (c._1, c._2, c._3)).toSet
    val got = graft.io.Io.readDim(spark, store)
      .select("batch_round", "vec_id", "sel_d2")
      .as[(Int, Long, Long)].collect().toSet
    assert(got == want,
      "in-stream compaction must leave exactly the deterministic two-level chain")
  }

  test("replay of the last epoch is a no-op; partial candidate commit heals on replay") {
    val (a, b) = (tmp("store-p"), tmp("store-f"))
    val bs = batches
    bs.zipWithIndex.foreach { case (x, i) =>
      KCenterStream.applyBatch(spark, x, b, epoch = i.toLong)
    }
    val snap = graft.io.Io.readDim(spark, b)
      .select("vec_id", "batch_round", "sel_d2", "last_epoch")
      .as[(Long, Int, Long, Long)].collect().toSet
    KCenterStream.applyBatch(spark, bs.last, b, epoch = 2L)
    assert(graft.io.Io.readDim(spark, b)
      .select("vec_id", "batch_round", "sel_d2", "last_epoch")
      .as[(Long, Int, Long, Long)].collect().toSet == snap,
      "replaying the same epoch must rewrite identical rows")
    // partial commit: land only half of epoch-1's candidates, then replay
    KCenterStream.applyBatch(spark, bs(0), a, epoch = 0L)
    val picks1 = greedy(collected(bs(1)), 8)
    val half = picks1.filter(_._2 % 2 == 0)
      .map(c => (c._2, c._4.map(_.toInt).toSeq, c._1, c._3, 1L))
    graft.io.Io.upsertDim(spark,
      spark.createDataFrame(half)
        .toDF("vec_id", "q", "batch_round", "sel_d2", "last_epoch"),
      a, "vec_id", "last_epoch")
    KCenterStream.applyBatch(spark, bs(1), a, epoch = 1L)
    KCenterStream.applyBatch(spark, bs(2), a, epoch = 2L)
    assert(graft.io.Io.readDim(spark, a)
      .select("vec_id", "batch_round", "sel_d2", "last_epoch")
      .as[(Long, Int, Long, Long)].collect().toSet == snap,
      "a half-committed epoch must heal to the clean-run store on replay")
  }
}
