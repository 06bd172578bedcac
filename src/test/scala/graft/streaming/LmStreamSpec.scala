package graft.streaming

import graft.SparkSuite
import graft.operators.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming Kneser–Ney LM maintenance (LmStream): bigram counts are the
  * LM's only stored state and they ADD across training batches, so the
  * maintained gram store must be cell-for-cell equal to a batch recompute
  * over every training doc absorbed — and because scoring derives the
  * smoothing tables from that store via the SAME knScoreWith the batch
  * q174 uses, the full scored output must equal the batch operator exactly.
  * Derived continuation counts deliberately don't live in the store (they
  * are distinct-context counts and would NOT add); the cross-batch case
  * below places the same gram in several batches to prove the derivation
  * handles exactly that. */
class LmStreamSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(tag: String): String =
    tempDir(s"graft-lm-$tag")

  private def allDocs: DataFrame =
    graft.Tables.load(spark, sf0001, "documents").select("doc_id", "text")

  // the q174 split: LM trained on the store third, all docs scored
  private def trainDocs: DataFrame = {
    val wm = allDocs.agg(expr("max(doc_id) div 3").as("wm"))
    allDocs.crossJoin(broadcast(wm)).filter(col("doc_id") < col("wm"))
      .select("doc_id", "text")
  }

  // doc_id % 3 interleaves: common grams (stopword-ish bigrams) land in
  // every batch, so the additive merge and the derived distinct-context
  // counts are both genuinely exercised across batch boundaries
  private def batches: Seq[DataFrame] =
    (0 to 2).map(i => trainDocs.filter(col("doc_id") % 3 === i))

  private def readCells(path: String): Set[(String, Long)] =
    LmStream.readCorpus(spark, path).as[(String, Long)].collect().toSet

  private type SRow = (Long, Long, Long, Long, Long)

  test("3-batch maintenance: gram counts equal a batch recompute; scoreAll equals batch q174 exactly") {
    val cells = tmp("cells")
    batches.zipWithIndex.foreach { case (b, i) =>
      LmStream.applyBatch(spark, b, cells, epoch = i.toLong)
    }
    val want = TextOps.knGramCounts(trainDocs)
      .as[(String, Long)].collect().toSet
    assert(readCells(cells) == want,
      "maintained gram counts must equal the batch recompute cell-for-cell")
    // a gram must actually span batches or the additive merge is untested
    val perBatch = batches.map(b =>
      TextOps.knGramCounts(b).as[(String, Long)].collect().toMap)
    assert(perBatch.map(_.keySet).reduce(_ intersect _).nonEmpty,
      "fixture must have grams appearing in every batch")
    val got = LmStream.scoreAll(spark, cells, allDocs)
      .as[SRow].collect().toSet
    val batch = TextOps.knScore(spark, sf0001).as[SRow].collect().toSet
    assert(got == batch,
      "maintained-LM scores must equal the batch q174 operator exactly")
  }

  test("full replay of the last epoch is a no-op") {
    val cells = tmp("cells-r")
    val bs = batches
    bs.zipWithIndex.foreach { case (b, i) =>
      LmStream.applyBatch(spark, b, cells, epoch = i.toLong)
    }
    val c0 = readCells(cells)
    LmStream.applyBatch(spark, bs.last, cells, epoch = 2L)
    assert(readCells(cells) == c0)
  }

  test("partial cell commit: replay fills only the missed grams, once") {
    val (cellsA, cellsB) = (tmp("cells-p"), tmp("cells-c"))
    val bs = batches
    LmStream.applyBatch(spark, bs(0), cellsB, epoch = 0L)
    LmStream.applyBatch(spark, bs(1), cellsB, epoch = 1L)
    LmStream.applyBatch(spark, bs(0), cellsA, epoch = 0L)
    // simulate a crash that committed only half of epoch 1's gram cells
    val d1 = TextOps.knGramCounts(bs(1))
      .select(col("gram").as("cell"), col("gram"), col("c12"))
    val s = graft.io.Io.readDim(spark, cellsA)
    val partial = d1.filter(abs(hash(col("cell"))) % 2 === 0)
      .join(s.select(col("cell"), col("c12").as("__p")), Seq("cell"), "left")
      .select(col("cell"), col("gram"),
        (col("c12") + coalesce(col("__p"), lit(0L))).as("c12"),
        lit(1L).as("last_epoch"))
    graft.io.Io.upsertDim(spark, partial, cellsA, "cell", "last_epoch")
    LmStream.applyBatch(spark, bs(1), cellsA, epoch = 1L)
    assert(readCells(cellsA) == readCells(cellsB))
  }
}
