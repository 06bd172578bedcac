package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Incremental data-quality state (QualityStream): micro-batched
  * maintenance must equal a single-pass recompute (HLL union is
  * register-max, so even the sketch state is bit-stable under any batch
  * split), shared checks must agree with the batch q131 checker, a
  * corrupted batch must flip exactly the right checks, and replays must
  * be no-ops. */
class QualityStreamSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(tag: String): String =
    tempDir(s"graft-qs-$tag")

  private def orders = graft.Tables.load(spark, sf0001, "orders")

  private def batches: Seq[DataFrame] =
    (0 to 2).map(i => orders.filter(col("o_orderkey") % 3 === i))

  private def checks(path: String): Map[String, (Double, Boolean)] =
    QualityStream.readChecks(spark, path)
      .select("check", "metric", "passed").as[(String, Double, Boolean)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap

  test("3-batch maintenance equals one-shot ingestion; shared checks agree with batch q131") {
    val (inc, one) = (tmp("inc"), tmp("one"))
    batches.zipWithIndex.foreach { case (b, i) =>
      QualityStream.applyBatch(spark, b, inc, epoch = i.toLong)
    }
    QualityStream.applyBatch(spark, orders, one, epoch = 0L)
    val (ci, co) = (checks(inc), checks(one))
    // counter metrics are exactly split-invariant; the HLL ESTIMATE is
    // split-sensitive within its error bound (sparse->dense promotion
    // depends on union history), so uniqueness compares with tolerance
    for (c <- ci.keys if c != "uniqueness_orderkey_approx")
      assert(ci(c) == co(c), s"$c must be exactly split-invariant")
    val (ui, uo) = (ci("uniqueness_orderkey_approx"), co("uniqueness_orderkey_approx"))
    assert(ui._2 && uo._2)
    assert(math.abs(ui._1 - uo._1) <= 0.02,
      s"sketch estimates must agree within tolerance: $ui vs $uo")
    // shared row-local checks agree with the oracle-gated batch checker
    val batch = graft.operators.Quality.qualityChecks(spark, sf0001)
      .select("check", "metric", "passed").as[(String, Double, Boolean)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val got = checks(inc)
    for (c <- Seq("size_min", "completeness_custkey", "compliance_status",
      "range_totalprice"))
      assert(got(c) == batch(c), s"$c must match the batch checker")
    // clean fixture: approximate uniqueness holds too
    assert(got("uniqueness_orderkey_approx")._2)
  }

  test("a corrupted batch flips exactly the right checks and the state keeps absorbing") {
    val dir = tmp("bad")
    QualityStream.applyBatch(spark, batches(0), dir, epoch = 0L)
    assert(checks(dir).values.forall(_._2))
    // bad batch: one negative price, one bad status, and every key a
    // duplicate of batch 0 (mass duplication the sketch must catch)
    val bad = batches(0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") === batches(0).agg(min("o_orderkey")).first().getLong(0),
          lit(-5.0)).otherwise(col("o_totalprice")))
      .withColumn("o_orderstatus",
        when(col("o_orderkey") % 7 === 0, lit("Z")).otherwise(col("o_orderstatus")))
    QualityStream.applyBatch(spark, bad, dir, epoch = 1L)
    val got = checks(dir)
    assert(got("size_min")._2)
    assert(got("completeness_custkey")._2)
    assert(!got("range_totalprice")._2, "negative price must flip the range check")
    assert(!got("compliance_status")._2, "bad status must flip compliance")
    assert(!got("uniqueness_orderkey_approx")._2,
      s"100% key duplication must breach the 5% sketch tolerance: ${got("uniqueness_orderkey_approx")}")
  }

  test("replayed and rewound epochs are no-ops") {
    val dir = tmp("replay")
    QualityStream.applyBatch(spark, batches(0), dir, epoch = 0L)
    QualityStream.applyBatch(spark, batches(1), dir, epoch = 1L)
    val before = checks(dir)
    QualityStream.applyBatch(spark, batches(1), dir, epoch = 1L)
    assert(checks(dir) == before, "replay must not double-count")
    QualityStream.applyBatch(spark, batches(0), dir, epoch = 0L)
    assert(checks(dir) == before, "rewind must be dropped")
  }

  test("MemoryStream end-to-end via run() equals the applyBatch sequence") {
    implicit val sqlCtx = spark.sqlContext
    val (s, d) = (tmp("stream"), tmp("direct"))
    val rows = orders.select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"))
      .as[(Long, Long, String, Double)].collect()
    val ms = MemoryStream[(Long, Long, String, Double)]
    val q = EpochStore.run(
      ms.toDS().toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"),
      tempDir("graft-qs-ckpt")) {
      (delta, epoch) => QualityStream.applyBatch(spark, delta, s, epoch)
    }
    val chunks = rows.grouped((rows.length + 1) / 2).toSeq
    chunks.foreach { c => ms.addData(c.toSeq); q.processAllAvailable() }
    q.stop()
    chunks.zipWithIndex.foreach { case (c, i) =>
      QualityStream.applyBatch(spark,
        c.toSeq.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"),
        d, epoch = i.toLong)
    }
    assert(checks(s) == checks(d))
  }
}
