package graft.streaming

import graft.SparkSuite
import graft.operators.Relational
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming quantile maintenance (HdrStream): the maintained HDR cells
  * must be CELL-FOR-CELL equal to a batch recompute (linear sketch,
  * deterministic integers), the read path must equal the q153 batch
  * operator over everything absorbed, and the epoch gates must survive
  * full replays and partial bucket commits — the TopKStream discipline
  * applied to the quantile measure. */
class HdrStreamSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(tag: String): String =
    tempDir(s"graft-hdr-$tag")

  private def allEv: DataFrame =
    graft.Tables.load(spark, sf0001, "events")
      .select("event_type", "value", "event_id")

  private def batches: Seq[DataFrame] =
    (0 to 2).map(i => allEv.filter(col("event_id") % 3 === i)
      .select("event_type", "value"))

  private def readCells(path: String): Set[(String, Long, Long)] =
    graft.io.Io.readDim(spark, path)
      .select(col("event_type"), col("lo"), col("ct"))
      .as[(String, Long, Long)].collect().toSet

  private type QRow = (String, Long, Long, Long, Long, Long, Long, Long, Boolean)

  private def quantRows(df: DataFrame): Set[QRow] =
    df.as[QRow].collect().toSet

  test("3-batch maintenance: cells equal a batch recompute; readQuantiles equals batch hdrQuantiles") {
    val cells = tmp("cells")
    batches.zipWithIndex.foreach { case (b, i) =>
      HdrStream.applyBatch(spark, b, cells, epoch = i.toLong)
    }
    val want = Relational.hdrCells(allEv.select("event_type", "value"))
      .as[(String, Long, Long)].collect().toSet
    assert(readCells(cells) == want,
      "maintained HDR cells must be cell-for-cell equal to the batch recompute")
    assert(quantRows(HdrStream.readQuantiles(spark, cells)) ==
      quantRows(Relational.hdrQuantiles(spark, sf0001)),
      "streamed quantiles must equal the batch operator over everything absorbed")
  }

  test("full replay of the last epoch is a no-op") {
    val cells = tmp("cells-r")
    val bs = batches
    bs.zipWithIndex.foreach { case (b, i) =>
      HdrStream.applyBatch(spark, b, cells, epoch = i.toLong)
    }
    val c0 = readCells(cells)
    HdrStream.applyBatch(spark, bs.last, cells, epoch = 2L)
    assert(readCells(cells) == c0, "replayed epoch must not double-count")
  }

  test("partial cell commit: replay fills only the missed cells, once") {
    val (cellsA, cellsB) = (tmp("cells-p"), tmp("cells-c"))
    val bs = batches
    // clean twin
    HdrStream.applyBatch(spark, bs(0), cellsB, epoch = 0L)
    HdrStream.applyBatch(spark, bs(1), cellsB, epoch = 1L)
    // crashed twin: epoch 0 full; epoch 1 lands only the even-lo cells
    HdrStream.applyBatch(spark, bs(0), cellsA, epoch = 0L)
    val d1 = Relational.hdrCells(bs(1))
      .withColumn("cell", concat_ws("|", col("event_type"), col("lo")))
    val s = graft.io.Io.readDim(spark, cellsA)
    val partial = d1.filter(col("lo") % 2 === 0)
      .join(s.select(col("cell"), col("ct").as("__pc")), Seq("cell"), "left")
      .select(col("cell"), col("event_type"), col("lo"),
        (col("ct") + coalesce(col("__pc"), lit(0L))).as("ct"),
        lit(1L).as("last_epoch"))
    graft.io.Io.upsertDim(spark, partial, cellsA, "cell", "last_epoch")
    // replay the whole epoch 1: even-lo cells are at last_epoch=1 (skipped),
    // the rest merge exactly once
    HdrStream.applyBatch(spark, bs(1), cellsA, epoch = 1L)
    assert(readCells(cellsA) == readCells(cellsB),
      "partial-commit replay must fill only the missed cells, once")
  }
}
