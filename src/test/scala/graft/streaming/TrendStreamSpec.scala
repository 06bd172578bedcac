package graft.streaming

import graft.SparkSuite
import graft.operators.Relational
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming trending maintenance (TrendStream): because q158's decay is
  * anchored to event time on absolute weeks, the maintained (item, week)
  * cells must be cell-for-cell equal to a batch recompute, and the read
  * path must equal the batch q158 EXACTLY — full row equality including
  * scores and ranks — over everything absorbed. Epoch-gate recovery is the
  * shared EpochStore discipline (exercised across three maintainers now). */
class TrendStreamSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(tag: String): String =
    tempDir(s"graft-trend-$tag")

  private def allEv: DataFrame =
    graft.Tables.load(spark, sf0001, "events")
      .select("props", "event_time", "event_id")

  private def batches: Seq[DataFrame] =
    (0 to 2).map(i => allEv.filter(col("event_id") % 3 === i)
      .select("props", "event_time"))

  private def readCells(path: String): Set[(Int, Long, Long)] =
    graft.io.Io.readDim(spark, path)
      .select(col("item"), col("w"), col("ct"))
      .as[(Int, Long, Long)].collect().toSet

  private type TRow = (Int, Long, Long, Double, Boolean, Int)

  test("3-batch maintenance: cells equal a batch recompute; readTrending equals batch q158 exactly") {
    val cells = tmp("cells")
    batches.zipWithIndex.foreach { case (b, i) =>
      TrendStream.applyBatch(spark, b, cells, epoch = i.toLong)
    }
    val want = Relational.trendCells(allEv.select("props", "event_time"))
      .as[(Int, Long, Long)].collect().toSet
    assert(readCells(cells) == want,
      "maintained cells must be cell-for-cell equal to the batch recompute")
    assert(TrendStream.readTrending(spark, cells).as[TRow].collect().toSet ==
      Relational.trendingScores(spark, sf0001).as[TRow].collect().toSet,
      "streamed trending must equal the batch operator, scores and ranks included")
  }

  test("full replay of the last epoch is a no-op") {
    val cells = tmp("cells-r")
    val bs = batches
    bs.zipWithIndex.foreach { case (b, i) =>
      TrendStream.applyBatch(spark, b, cells, epoch = i.toLong)
    }
    val c0 = readCells(cells)
    TrendStream.applyBatch(spark, bs.last, cells, epoch = 2L)
    assert(readCells(cells) == c0)
  }

  test("partial cell commit: replay fills only the missed cells, once") {
    val (cellsA, cellsB) = (tmp("cells-p"), tmp("cells-c"))
    val bs = batches
    TrendStream.applyBatch(spark, bs(0), cellsB, epoch = 0L)
    TrendStream.applyBatch(spark, bs(1), cellsB, epoch = 1L)
    TrendStream.applyBatch(spark, bs(0), cellsA, epoch = 0L)
    val d1 = Relational.trendCells(bs(1))
      .withColumn("cell", concat_ws("|", col("item"), col("w")))
    val s = graft.io.Io.readDim(spark, cellsA)
    val partial = d1.filter(col("item") % 2 === 0)
      .join(s.select(col("cell"), col("ct").as("__pc")), Seq("cell"), "left")
      .select(col("cell"), col("item"), col("w"),
        (col("ct") + coalesce(col("__pc"), lit(0L))).as("ct"),
        lit(1L).as("last_epoch"))
    graft.io.Io.upsertDim(spark, partial, cellsA, "cell", "last_epoch")
    TrendStream.applyBatch(spark, bs(1), cellsA, epoch = 1L)
    assert(readCells(cellsA) == readCells(cellsB))
  }
}
