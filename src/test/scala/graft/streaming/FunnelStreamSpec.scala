package graft.streaming

import graft.SparkSuite
import graft.operators.Relational
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming funnel maintenance (FunnelStream): batch q165 and the
  * maintainer share ONE fold expression, so the maintained milestone store
  * must be key-for-key equal to a batch recompute over everything absorbed
  * (under in-order delivery), and the read path must equal the
  * oracle-gated batch operator exactly. Recovery is the per-key epoch
  * gate; late data is drop-not-corrupt (the Scd2Stream discipline). */
class FunnelStreamSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(tag: String): String =
    tempDir(s"graft-funnel-$tag")

  private def allEv: DataFrame =
    graft.Tables.load(spark, sf0001, "events")
      .select("user_id", "event_time", "event_id", "event_type")

  /** Time-ordered thirds — the maintainer's delivery contract. */
  private def batches: Seq[DataFrame] = {
    val ts = allEv.select(unix_micros(col("event_time")).as[Long])
      .collect().sorted
    val (c1, c2) = (ts(ts.length / 3), ts(2 * ts.length / 3))
    val m = unix_micros(col("event_time"))
    Seq(allEv.filter(m <= c1), allEv.filter(m > c1 && m <= c2),
      allEv.filter(m > c2))
  }

  private type MRow = (Long, String, Option[Long], Option[Long], Option[Long], Long)
  private type FRow = (String, Long, Long, Long, Long)

  private def readMilestones(dir: String): Set[MRow] =
    graft.io.Io.readDim(spark, dir)
      .select(col("user_id"), col("d").cast("string"), col("v"), col("c"),
        col("p"), col("lt"))
      .as[MRow].collect().toSet

  private def mkEv(rows: Seq[(Long, Long, Long, String)]): DataFrame =
    rows.toDF("user_id", "tsm", "event_id", "event_type")
      .withColumn("event_time", timestamp_micros(col("tsm")))
      .select("user_id", "event_time", "event_id", "event_type")

  test("3 time-ordered batches: store equals batch milestones; readFunnel equals batch q165") {
    val dir = tmp("e2e")
    batches.zipWithIndex.foreach { case (b, i) =>
      FunnelStream.applyBatch(spark, b, dir, epoch = i.toLong)
    }
    val want = Relational.userDayMilestones(allEv)
      .select(col("user_id"), col("d").cast("string"), col("v"), col("c"),
        col("p"), col("lt"))
      .as[MRow].collect().toSet
    assert(readMilestones(dir) == want,
      "maintained milestones must equal the batch recompute key-for-key")
    assert(FunnelStream.readFunnel(spark, dir).as[FRow].collect().toSet ==
      Relational.dayFunnel(spark, sf0001).as[FRow].collect().toSet,
      "streamed funnel must equal the oracle-gated batch operator")
    // the cuts actually split user-days across batches — the cross-batch
    // merge path was exercised, not just three disjoint bootstraps
    val perBatchKeys = batches.map(
      _.select(col("user_id"), date_trunc("day", col("event_time")).cast("string"))
        .as[(Long, String)].collect().toSet)
    assert(perBatchKeys(0).intersect(perBatchKeys(1)).nonEmpty ||
      perBatchKeys(1).intersect(perBatchKeys(2)).nonEmpty,
      "no user-day spans a batch cut — fixture too easy")
  }

  test("full replay of the last epoch is a no-op") {
    val dir = tmp("replay")
    val bs = batches
    bs.zipWithIndex.foreach { case (b, i) =>
      FunnelStream.applyBatch(spark, b, dir, epoch = i.toLong)
    }
    val before = readMilestones(dir)
    FunnelStream.applyBatch(spark, bs.last, dir, epoch = 2L)
    assert(readMilestones(dir) == before)
  }

  test("partial commit: replay fills only the missed keys, to the clean-run state") {
    val (dirA, dirB) = (tmp("partial"), tmp("clean"))
    val bs = batches
    FunnelStream.applyBatch(spark, bs(0), dirB, epoch = 0L)
    FunnelStream.applyBatch(spark, bs(1), dirB, epoch = 1L)
    FunnelStream.applyBatch(spark, bs(0), dirA, epoch = 0L)
    // crash mid-epoch-1: only even users' buckets landed
    FunnelStream.applyBatch(spark, bs(1).filter(col("user_id") % 2 === 0),
      dirA, epoch = 1L)
    // replay of the full epoch: committed keys gated out, missed keys catch up
    FunnelStream.applyBatch(spark, bs(1), dirA, epoch = 1L)
    assert(readMilestones(dirA) == readMilestones(dirB))
  }

  test("a straggler older than the frontier is dropped, never corrupts the chain") {
    val dir = tmp("late")
    val t0 = 1700000000000000L
    FunnelStream.applyBatch(spark,
      mkEv(Seq((1L, t0 + 10, 1L, "view"))), dir, epoch = 0L)
    val before = readMilestones(dir)
    // cross-batch straggler BEFORE the frontier: dropped by the fold guard
    // (exact repair would need events the compacted state no longer holds)
    FunnelStream.applyBatch(spark,
      mkEv(Seq((1L, t0 + 5, 2L, "click"))), dir, epoch = 1L)
    assert(readMilestones(dir) == before, "late event must be dropped")
    // the chain still advances with in-order events; in-batch disorder is
    // owned by the sort (purchase listed first, click earlier)
    FunnelStream.applyBatch(spark,
      mkEv(Seq((1L, t0 + 30, 4L, "purchase"), (1L, t0 + 20, 3L, "click"))),
      dir, epoch = 2L)
    val after = readMilestones(dir)
    assert(after == Set((1L, "2023-11-14 00:00:00",
      Some(t0 + 10), Some(t0 + 20), Some(t0 + 30), t0 + 30)))
  }
}
