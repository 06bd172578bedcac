package graft.streaming

import graft.SparkSuite
import graft.operators.Relational
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming bootstrap-CI maintenance (BootstrapStream): per-row Poisson
  * replicate weights are constants of the row's own key, so the
  * (segment, replicate) moment cells add across batches — the maintained
  * store must be cell-for-cell equal to a batch recompute and the read
  * path must equal the batch q169 EXACTLY over everything absorbed. Also
  * the first exerciser of EpochStore.mergeAdditive's MULTI-COLUMN form
  * (swc and sw must gate together per cell). */
class BootstrapStreamSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(tag: String): String =
    tempDir(s"graft-boot-$tag")

  private def allRows: DataFrame =
    Relational.bootstrapJoined(spark, sf0001)

  private def batches: Seq[DataFrame] =
    (0 to 2).map(i => allRows.filter(col("okey") % 3 === i))

  private def readCells(path: String): Set[(String, Long, Long, Long)] =
    graft.io.Io.readDim(spark, path)
      .select(col("segment"), col("rep"), col("swc"), col("sw"))
      .as[(String, Long, Long, Long)].collect().toSet

  private type CRow = (String, Long, Double, Double, Double, Boolean)

  test("3-batch maintenance: cells equal a batch recompute; readBootstrap equals batch q169 exactly") {
    val cells = tmp("cells")
    batches.zipWithIndex.foreach { case (b, i) =>
      BootstrapStream.applyBatch(spark, b, cells, epoch = i.toLong)
    }
    val want = Relational.bootstrapCells(allRows)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(readCells(cells) == want,
      "maintained cells must be cell-for-cell equal to the batch recompute")
    assert(BootstrapStream.readBootstrap(spark, cells).as[CRow].collect().toSet ==
      Relational.bootstrapCi(spark, sf0001).as[CRow].collect().toSet,
      "streamed CI must equal the batch operator, interval endpoints included")
  }

  test("full replay of the last epoch is a no-op") {
    val cells = tmp("cells-r")
    val bs = batches
    bs.zipWithIndex.foreach { case (b, i) =>
      BootstrapStream.applyBatch(spark, b, cells, epoch = i.toLong)
    }
    val c0 = readCells(cells)
    BootstrapStream.applyBatch(spark, bs.last, cells, epoch = 2L)
    assert(readCells(cells) == c0)
  }

  test("partial cell commit: replay fills only the missed cells, once, both value columns") {
    val (cellsA, cellsB) = (tmp("cells-p"), tmp("cells-c"))
    val bs = batches
    BootstrapStream.applyBatch(spark, bs(0), cellsB, epoch = 0L)
    BootstrapStream.applyBatch(spark, bs(1), cellsB, epoch = 1L)
    BootstrapStream.applyBatch(spark, bs(0), cellsA, epoch = 0L)
    // simulate a crash that committed only the even-replicate cells of epoch 1
    val d1 = Relational.bootstrapCells(bs(1))
      .withColumn("cell", concat_ws("|", col("segment"), col("rep")))
    val s = graft.io.Io.readDim(spark, cellsA)
    val partial = d1.filter(pmod(col("rep"), lit(2L)) === 0L)
      .join(s.select(col("cell"), col("swc").as("__ps"), col("sw").as("__pw")),
        Seq("cell"), "left")
      .select(col("cell"), col("segment"), col("rep"),
        (col("swc") + coalesce(col("__ps"), lit(0L))).as("swc"),
        (col("sw") + coalesce(col("__pw"), lit(0L))).as("sw"),
        lit(1L).as("last_epoch"))
    graft.io.Io.upsertDim(spark, partial, cellsA, "cell", "last_epoch")
    BootstrapStream.applyBatch(spark, bs(1), cellsA, epoch = 1L)
    assert(readCells(cellsA) == readCells(cellsB))
  }
}
