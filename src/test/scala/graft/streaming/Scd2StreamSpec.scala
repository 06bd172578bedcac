package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming SCD2 maintenance: micro-batched history must equal the
  * oracle-gated batch build (q119) over the concatenated change log, and
  * stay exactly-once under replay. */
class Scd2StreamSpec extends SparkSuite {
  import spark.implicits._

  private val t0 = 1700000000000L

  private def mkLog(rows: Seq[(Long, String, Long, Long)]): DataFrame =
    rows.toDF("user_id", "state", "ms", "event_id")
      .select(col("user_id"), col("state"),
        timestamp_millis(col("ms")).as("event_time"), col("event_id"))

  private type Hist = (Long, String, String, String, Int, Boolean)

  private def batchBuild(all: Seq[(Long, String, Long, Long)]): Set[Hist] =
    graft.operators.Relational.scd2HistoryFrom(mkLog(all))
      .as[Hist].collect().toSet

  private def readBack(dir: String): Set[Hist] =
    Scd2Stream.readHistory(spark, dir)
      .select(col("user_id"), col("state"), col("valid_from"), col("valid_to"),
        col("version"), col("is_current"))
      .as[Hist].collect().toSet

  test("3 micro-batches equal the batch SCD2 build; replay is a no-op") {
    val dir = tempDir("graft-scd2")
    val m = 60000L
    // b1: two users appear; u1 changes state within the batch
    val b1 = Seq((1L, "view", t0, 1L), (1L, "click", t0 + m, 2L),
      (2L, "view", t0 + 2 * m, 3L))
    // b2: u1 re-emits its current state (noisy CDC — must collapse),
    // u2 changes, u3 appears
    val b2 = Seq((1L, "click", t0 + 3 * m, 4L), (2L, "purchase", t0 + 4 * m, 5L),
      (3L, "signup", t0 + 5 * m, 6L))
    // b3: u1 changes twice more, u3 unchanged
    val b3 = Seq((1L, "purchase", t0 + 6 * m, 7L), (1L, "view", t0 + 7 * m, 8L),
      (3L, "signup", t0 + 8 * m, 9L))
    Seq(b1, b2, b3).zipWithIndex.foreach { case (b, i) =>
      Scd2Stream.applyBatch(spark, mkLog(b), dir, epoch = i.toLong)
    }
    val want = batchBuild(b1 ++ b2 ++ b3)
    assert(readBack(dir) == want)
    // sanity on the fixture itself: u1 has 4 versions, one open row each
    assert(want.count(h => h._1 == 1L) == 4)

    // full replay of the last epoch: per-user gate drops every row
    Scd2Stream.applyBatch(spark, mkLog(b3), dir, epoch = 2L)
    assert(readBack(dir) == want, "replayed epoch mutated the history")

    // an EARLIER epoch replay (checkpoint rewind) is likewise a no-op
    Scd2Stream.applyBatch(spark, mkLog(b1), dir, epoch = 0L)
    assert(readBack(dir) == want, "rewound epoch mutated the history")
  }

  test("a batch that only re-emits current states leaves the store byte-stable") {
    val dir = tempDir("graft-scd2-noop")
    val m = 60000L
    val b1 = Seq((7L, "view", t0, 1L), (8L, "click", t0 + m, 2L))
    Scd2Stream.applyBatch(spark, mkLog(b1), dir, epoch = 0L)
    val before = readBack(dir)
    // same states, later timestamps: SCD2 must not open new versions
    val b2 = Seq((7L, "view", t0 + 2 * m, 3L), (8L, "click", t0 + 3 * m, 4L))
    Scd2Stream.applyBatch(spark, mkLog(b2), dir, epoch = 1L)
    assert(readBack(dir) == before, "no-op re-emissions must not grow history")
  }

  test("real events table in 3 time-ordered micro-batches equals the oracle-gated q119 build") {
    val dir = tempDir("graft-scd2-real")
    val log = graft.Tables.load(spark, sf0001, "events")
      .select(col("user_id"), col("event_type").as("state"),
        col("event_time"), col("event_id"))
    // three micro-batches split on event time (streaming delivers in rough
    // time order; in-batch ordering is the operator's job)
    val cuts = Seq("2024-01-11", "2024-01-21")
    val batches = Seq(
      log.filter(col("event_time") < lit(cuts(0)).cast("timestamp")),
      log.filter(col("event_time") >= lit(cuts(0)).cast("timestamp") &&
        col("event_time") < lit(cuts(1)).cast("timestamp")),
      log.filter(col("event_time") >= lit(cuts(1)).cast("timestamp")))
    batches.zipWithIndex.foreach { case (b, i) =>
      Scd2Stream.applyBatch(spark, b, dir, epoch = i.toLong)
    }
    val want = graft.operators.Relational.scd2History(spark, sf0001)
      .as[Hist].collect().toSet
    assert(readBack(dir) == want,
      "micro-batched SCD2 must reproduce the oracle-gated batch history")
  }

  test("PARTIAL commit: replay fills only the users the crash missed") {
    val dir = tempDir("graft-scd2-part")
    val m = 60000L
    val b1 = Seq((1L, "view", t0, 1L), (2L, "view", t0 + m, 2L))
    Scd2Stream.applyBatch(spark, mkLog(b1), dir, epoch = 0L)
    val b2 = Seq((1L, "click", t0 + 2 * m, 3L), (2L, "purchase", t0 + 3 * m, 4L))
    // crash mid-publish: only user 1's bucket committed epoch 1 (each user's
    // history is ONE row, so the partial boundary is per user, never inside
    // one user's history — the layout property this spec pins)
    Scd2Stream.applyBatch(spark, mkLog(b2.filter(_._1 == 1L)), dir, epoch = 1L)
    // replay of the full epoch: user 1 gated out, user 2 catches up
    Scd2Stream.applyBatch(spark, mkLog(b2), dir, epoch = 1L)
    assert(readBack(dir) == batchBuild(b1 ++ b2))
  }

  test("a straggler older than the open interval is dropped, never corrupts the history") {
    val dir = tempDir("graft-scd2-late")
    val m = 60000L
    Scd2Stream.applyBatch(spark, mkLog(Seq((1L, "view", t0 + 10 * m, 1L))), dir, epoch = 0L)
    val before = readBack(dir)
    // a cross-batch straggler from BEFORE the open interval: without the
    // fold guard this would close the open interval with valid_to earlier
    // than valid_from and flip is_current to the stale state
    Scd2Stream.applyBatch(spark, mkLog(Seq((1L, "click", t0, 2L))), dir, epoch = 1L)
    val after = readBack(dir)
    assert(after == before, s"late event must be dropped, got $after")
    // and every row still satisfies the interval invariant
    after.foreach { h => assert(h._4 > h._3, s"inverted interval: $h") }
    // a late event INSIDE the same batch as newer ones is ordered, not lost
    Scd2Stream.applyBatch(spark,
      mkLog(Seq((2L, "b", t0 + m, 4L), (2L, "a", t0, 3L))), dir, epoch = 2L)
    val u2 = readBack(dir).filter(_._1 == 2L).toSeq.sortBy(_._5)
    assert(u2.map(_._2) == Seq("a", "b"), s"in-batch sort owns intra-batch disorder: $u2")
  }

  test("streaming run: MemoryStream batches maintain the history end-to-end") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft-scd2-ms")
    val ckpt = tempDir("graft-scd2-ckpt")
    val ms = MemoryStream[(Long, String, Long, Long)]
    val log = ms.toDF().toDF("user_id", "state", "ms", "event_id")
      .select(col("user_id"), col("state"),
        timestamp_millis(col("ms")).as("event_time"), col("event_id"))
    val m = 60000L
    val b1 = Seq((1L, "view", t0, 1L), (2L, "view", t0 + m, 2L))
    val b2 = Seq((1L, "click", t0 + 2 * m, 3L))
    val q = EpochStore.run(log, ckpt) { (delta, epoch) =>
      Scd2Stream.applyBatch(spark, delta, dir, epoch)
    }
    ms.addData(b1: _*); q.processAllAvailable()
    ms.addData(b2: _*); q.processAllAvailable()
    q.stop()
    assert(readBack(dir) == batchBuild(b1 ++ b2))
  }
}
