package graft.streaming

import graft.SparkSuite
import graft.operators.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming quota-sample maintenance (SampleStream): bottom-k of a union
  * is order-free and idempotent per element, so the maintained sample must
  * equal the batch q164 over everything absorbed regardless of batch
  * boundaries; the epoch gate owns the additive stratum counts. */
class SampleStreamSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(tag: String): String =
    tempDir(s"graft-sample-$tag")

  private def allDocs: DataFrame =
    graft.Tables.load(spark, sf0001, "documents").select("doc_id", "lang")

  private def batches: Seq[DataFrame] =
    (0 to 2).map(i => allDocs.filter(col("doc_id") % 3 === i))

  private type SRow = (String, Long, Int, Long, Long)

  private def readS(dir: String): Set[SRow] =
    SampleStream.readSample(spark, dir).as[SRow].collect().toSet

  test("3 batches in arbitrary key order: readSample equals the batch q164 exactly") {
    val dir = tmp("e2e")
    batches.zipWithIndex.foreach { case (b, i) =>
      SampleStream.applyBatch(spark, b, dir, epoch = i.toLong)
    }
    val want = TextOps.quotaSample(spark, sf0001).as[SRow].collect().toSet
    assert(readS(dir) == want,
      "maintained sample must equal the batch operator over everything absorbed")
  }

  test("full replay of the last epoch is a no-op (gate owns the counts)") {
    val dir = tmp("replay")
    val bs = batches
    bs.zipWithIndex.foreach { case (b, i) =>
      SampleStream.applyBatch(spark, b, dir, epoch = i.toLong)
    }
    val before = readS(dir)
    SampleStream.applyBatch(spark, bs.last, dir, epoch = 2L)
    assert(readS(dir) == before)
  }

  test("partial commit: replay fills only the missed strata, to the clean-run state") {
    val (dirA, dirB) = (tmp("partial"), tmp("clean"))
    val bs = batches
    SampleStream.applyBatch(spark, bs(0), dirB, epoch = 0L)
    SampleStream.applyBatch(spark, bs(1), dirB, epoch = 1L)
    SampleStream.applyBatch(spark, bs(0), dirA, epoch = 0L)
    // crash mid-epoch-1: only the en stratum's bucket landed
    SampleStream.applyBatch(spark, bs(1).filter(col("lang") === "en"),
      dirA, epoch = 1L)
    SampleStream.applyBatch(spark, bs(1), dirA, epoch = 1L)
    assert(readS(dirA) == readS(dirB))
  }

  test("candidate sets are idempotent per element beyond the gate") {
    val dir = tmp("idem")
    val bs = batches
    SampleStream.applyBatch(spark, bs(0), dir, epoch = 0L)
    val cands0 = readS(dir).map(r => (r._1, r._3, r._4, r._5))
    // the same docs re-absorbed under a NEW epoch (an upstream dedup bug,
    // not a replay — the gate cannot catch it): the sample is unchanged
    // because union is a set no-op; only the absorbed-row count moves,
    // which is its documented meaning
    SampleStream.applyBatch(spark, bs(0), dir, epoch = 1L)
    assert(readS(dir).map(r => (r._1, r._3, r._4, r._5)) == cands0)
  }
}
