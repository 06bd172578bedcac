package graft.streaming

import graft.SparkSuite
import graft.operators.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming positional-index maintenance (IndexStream): because a doc's
  * postings entries are constants of the doc and doc_ids are unique, each
  * batch's contribution to a (term, chunk) cell is a disjoint entry set —
  * the maintained store must equal the batch q171 over everything absorbed,
  * and the epoch gate must make replays/partial commits fill-once. Batches
  * split by doc_id % 3, so every chunk's postings provably interleave
  * entries from different batches (the merge path, not just append). */
class IndexStreamSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(tag: String): String =
    tempDir(s"graft-idx-$tag")

  private def allDocs: DataFrame =
    graft.Tables.load(spark, sf0001, "documents").select("doc_id", "text")

  private def batches: Seq[DataFrame] =
    (0 to 2).map(i => allDocs.filter(col("doc_id") % 3 === i))

  private type IRow = (String, Long, Long, Long, String)

  private def readRows(path: String): Set[IRow] =
    IndexStream.readIndex(spark, path).as[IRow].collect().toSet

  private def batchRows: Set[IRow] =
    TextOps.positionalIndexFrom(allDocs).as[IRow].collect().toSet

  test("3-batch maintenance equals the batch q171, postings merged in doc order") {
    val path = tmp("main")
    batches.zipWithIndex.foreach { case (b, i) =>
      IndexStream.applyBatch(spark, b, path, epoch = i.toLong)
    }
    val got = readRows(path)
    assert(got == batchRows,
      "maintained index must be cell-for-cell equal to the batch build")
    // the merge path was really exercised: some postings row interleaves
    // doc ids that arrived in different batches (non-monotonic mod-3 run)
    assert(got.exists { case (_, _, df, _, p) =>
      df >= 2 && p.split('|').map(_.split(':')(0).toLong % 3).distinct.length >= 2
    })
  }

  test("full replay of the last epoch is a no-op") {
    val path = tmp("replay")
    val bs = batches
    bs.zipWithIndex.foreach { case (b, i) =>
      IndexStream.applyBatch(spark, b, path, epoch = i.toLong)
    }
    val before = readRows(path)
    IndexStream.applyBatch(spark, bs.last, path, epoch = 2L)
    assert(readRows(path) == before)
  }

  test("partial cell commit: replay fills only the missed cells, once") {
    val (pa, pb) = (tmp("part"), tmp("clean"))
    val bs = batches
    IndexStream.applyBatch(spark, bs(0), pb, epoch = 0L)
    IndexStream.applyBatch(spark, bs(1), pb, epoch = 1L)
    IndexStream.applyBatch(spark, bs(0), pa, epoch = 0L)
    // simulate a crash that committed only cells whose term starts a-m
    val d1 = TextOps.positionalIndexFrom(bs(1))
      .withColumn("cell", concat_ws("|~|", col("term"), col("chunk")))
      .filter(col("term") < "n")
    val s = graft.io.Io.readDim(spark, pa)
    val partial = d1
      .join(s.select(col("cell"), col("df").as("__pdf"), col("cf").as("__pcf"),
        col("postings").as("__pp")), Seq("cell"), "left")
      .select(col("cell"), col("term"), col("chunk"),
        (col("df") + coalesce(col("__pdf"), lit(0L))).as("df"),
        (col("cf") + coalesce(col("__pcf"), lit(0L))).as("cf"),
        when(col("__pp").isNull, col("postings"))
          .otherwise(IndexStream.mergePostings(col("__pp"), col("postings")))
          .as("postings"),
        lit(1L).as("last_epoch"))
    graft.io.Io.upsertDim(spark, partial, pa, "cell", "last_epoch")
    IndexStream.applyBatch(spark, bs(1), pa, epoch = 1L)
    assert(readRows(pa) == readRows(pb))
  }
}
