package graft.streaming

import graft.SparkSuite
import graft.functions.TextFns._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming conformal calibration (ConformalStream): the calibration set
  * is the bottom-calK md5 hashes of everything absorbed — a set-semantics
  * state whose union merge is order-free and idempotent per doc — so the
  * maintained thresholds must equal the batch q184 thresholds over the
  * union of the batches, with cross-batch EVICTION proven (a later batch
  * must push an earlier calibration member out). */
class ConformalStreamSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(tag: String): String =
    tempDir(s"graft-conf-$tag")

  private def scoredDocs: DataFrame =
    graft.Tables.load(spark, sf001, "documents")
      .select(col("doc_id"),
        classifierScoreUdf(tokensCol(col("text"))).as("score"))

  private def batches: Seq[DataFrame] =
    (0 to 2).map(i => scoredDocs.filter(col("doc_id") % 3 === i))

  private def u52(s: String): Long = java.lang.Long.parseLong(
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 13), 16)

  private type TRow = (Int, Long, Long, Long, Long)

  test("3-batch maintenance: thresholds equal the batch construction; evictions happen") {
    val store = tmp("store")
    batches.zipWithIndex.foreach { case (b, i) =>
      ConformalStream.applyBatch(spark, b, store, epoch = i.toLong)
    }
    // driver replay of the batch construction over the union
    val all = scoredDocs.as[(Long, Long)].collect()
    val cal = all.map { case (id, sc) => (u52(s"conf_$id"), id, sc) }
      .sortBy(c => (c._1, c._2)).take(64)
    val calScores = cal.map(_._3).sorted
    val expect = Seq(5, 10, 20).map { a =>
      val k = (cal.length + 1) * a / 100
      (a, cal.length.toLong, k.toLong,
        if (k >= 1) calScores(k - 1) else Long.MinValue, all.length.toLong)
    }.toSet
    val got = ConformalStream.readThresholds(spark, store)
      .as[TRow].collect().toSet
    assert(got == expect, s"got $got\nexpect $expect")
    // eviction proof: batch 0 alone over-fills the 64-slot set, so some of
    // its members must have been displaced by batches 1-2's smaller hashes
    val b0 = batches.head.as[(Long, Long)].collect()
      .map { case (id, _) => (u52(s"conf_$id"), id) }.sortBy(identity).take(64)
    val finalIds = cal.map(_._2).toSet
    assert(b0.exists { case (_, id) => !finalIds(id) },
      "no batch-0 calibration member was evicted — the set merge is untested")
  }

  test("full replay of the last epoch is a no-op") {
    val store = tmp("store-r")
    val bs = batches
    bs.zipWithIndex.foreach { case (b, i) =>
      ConformalStream.applyBatch(spark, b, store, epoch = i.toLong)
    }
    val before = ConformalStream.readThresholds(spark, store)
      .as[TRow].collect().toSet
    ConformalStream.applyBatch(spark, bs.last, store, epoch = 2L)
    assert(ConformalStream.readThresholds(spark, store)
      .as[TRow].collect().toSet == before)
  }

  test("set merge alone is idempotent per doc: re-absorbing a batch at a NEW epoch only bumps counts") {
    val store = tmp("store-i")
    val bs = batches
    bs.zipWithIndex.foreach { case (b, i) =>
      ConformalStream.applyBatch(spark, b, store, epoch = i.toLong)
    }
    val before = ConformalStream.readThresholds(spark, store)
      .as[TRow].collect().toSet
    // new epoch => the gate admits it; the candidate SET must not change
    // (same docs, same hashes), only the additive count moves
    ConformalStream.applyBatch(spark, bs.last, store, epoch = 3L)
    val after = ConformalStream.readThresholds(spark, store)
      .as[TRow].collect().toSet
    assert(after.map(r => (r._1, r._2, r._3, r._4)) ==
      before.map(r => (r._1, r._2, r._3, r._4)),
      "thresholds must be unchanged by re-absorption")
    assert(after.head._5 > before.head._5, "the count column is additive by design")
  }

  test("a doc re-delivered with a MUTATED score keeps one calibration entry (max-score winner)") {
    val store = tmp("store-m")
    // small corpus so every doc is a calibration member (no eviction noise)
    val first = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("doc_id", "score")
    ConformalStream.applyBatch(spark, first, store, epoch = 0L)
    // doc 2 comes back with a DIFFERENT score: lower and higher variants —
    // the old full-struct array_distinct kept both rows per doc
    val mutated = Seq((2L, 5L), (2L, 25L)).toDF("doc_id", "score")
    ConformalStream.applyBatch(spark, mutated, store, epoch = 1L)
    val cands = graft.io.Io.readDim(spark, store)
      .selectExpr("explode(cands) AS c").select(col("c.doc_id"), col("c.score"))
      .as[(Long, Long)].collect().sorted.toSeq
    assert(cands.map(_._1) == cands.map(_._1).distinct,
      s"one calibration entry per doc_id required, got $cands")
    assert(cands.contains((2L, 25L)) && !cands.exists(c => c._1 == 2L && c._2 != 25L),
      s"the max score must win deterministically, got $cands")
  }
}
