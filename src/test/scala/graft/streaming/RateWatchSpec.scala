package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming ingest-rate monitoring (RateWatch): the maintained hourly
  * counts must make readAnomalies equal the oracle-gated batch detector
  * (q138) on the same data, reproducibly at every epoch, under replays and
  * partial commits. */
class RateWatchSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(tag: String): String =
    tempDir(s"graft-rw-$tag")

  private def events = graft.Tables.load(spark, sf0001, "events")
    .select(col("event_id"), col("event_type"), col("event_time"))

  private def batches: Seq[DataFrame] =
    (0 to 2).map(i => events.filter(col("event_id") % 3 === i))

  private def anomalies(path: String): Set[(String, String, Long, Double, Option[Double], Boolean)] =
    RateWatch.readAnomalies(spark, path)
      .as[(String, String, Long, Double, Option[Double], Boolean)].collect().toSet

  test("3-batch maintenance: readAnomalies equals the batch q138 detector on the full table") {
    val dir = tmp("main")
    batches.zipWithIndex.foreach { case (b, i) =>
      RateWatch.applyBatch(spark, b, dir, epoch = i.toLong)
    }
    val want = graft.operators.Relational.anomalyZscore(spark, sf0001)
      .as[(String, String, Long, Double, Option[Double], Boolean)].collect().toSet
    assert(anomalies(dir) == want,
      "streaming-maintained grid must reproduce the oracle-gated detector exactly")
  }

  test("replay and partial commit recover exactly-once; detector reproducible mid-stream") {
    val (a, b) = (tmp("crash"), tmp("clean"))
    RateWatch.applyBatch(spark, batches(0), a, epoch = 0L)
    RateWatch.applyBatch(spark, batches(0), b, epoch = 0L)
    val mid = anomalies(a)
    assert(mid == anomalies(b), "mid-stream detector must be reproducible")
    // partial commit of epoch 1: only the 'view' rows land, then full replay
    RateWatch.applyBatch(spark,
      batches(1).filter(col("event_type") === "view"), a, epoch = 1L)
    RateWatch.applyBatch(spark, batches(1), a, epoch = 1L)
    RateWatch.applyBatch(spark, batches(1), b, epoch = 1L)
    assert(anomalies(a) == anomalies(b),
      "partial-commit replay must fill only the missed keys, once")
    // full replay no-op
    RateWatch.applyBatch(spark, batches(1), a, epoch = 1L)
    assert(anomalies(a) == anomalies(b))
  }

  test("MemoryStream end-to-end via run() equals the applyBatch sequence") {
    implicit val sqlCtx = spark.sqlContext
    val (s, d) = (tmp("stream"), tmp("direct"))
    val rows = events.select(col("event_type").as[String],
      col("event_time").cast("long").as[Long]).collect()
    val ms = MemoryStream[(String, Long)]
    val q = EpochStore.run(
      ms.toDS().toDF("event_type", "secs")
        .select(col("event_type"), timestamp_seconds(col("secs")).as("event_time")),
      tempDir("graft-rw-ckpt")) {
      (delta, epoch) => RateWatch.applyBatch(spark, delta, s, epoch)
    }
    val chunks = rows.grouped((rows.length + 1) / 2).toSeq
    chunks.foreach { c => ms.addData(c.toSeq); q.processAllAvailable() }
    q.stop()
    chunks.zipWithIndex.foreach { case (c, i) =>
      RateWatch.applyBatch(spark,
        c.toSeq.toDF("event_type", "secs")
          .select(col("event_type"), timestamp_seconds(col("secs")).as("event_time")),
        d, epoch = i.toLong)
    }
    assert(anomalies(s) == anomalies(d))
  }
}
