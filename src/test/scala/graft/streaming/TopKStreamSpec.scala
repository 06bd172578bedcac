package graft.streaming

import graft.SparkSuite
import graft.operators.Relational
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming heavy-hitter maintenance (TopKStream): the maintained CMS
  * cells must be CELL-FOR-CELL equal to a batch recompute (linear sketch —
  * deterministic integers), the candidate row must rank exactly the keys a
  * driver replay ranks, and the epoch gates must survive full replays and
  * partial commits exactly like the MV store they imitate. */
class TopKStreamSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(tag: String): String =
    tempDir(s"graft-topk-$tag")

  private def keyed(ids: DataFrame): DataFrame =
    ids.select(Relational.geometricLevelKey(col("event_id")).as("key"))

  private def allIds = graft.Tables.load(spark, sf0001, "events").select("event_id")

  private def batches: Seq[DataFrame] =
    (0 to 2).map(i => keyed(allIds.filter(col("event_id") % 3 === i)))

  private def readCells(path: String): Set[(Int, String, Long)] =
    graft.io.Io.readDim(spark, path)
      .select(col("r").cast("int"), col("b"), col("c"))
      .as[(Int, String, Long)].collect().toSet

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("3-batch maintenance: cells equal a batch recompute; topK equals the driver ranking") {
    val (cells, cand) = (tmp("cells"), tmp("cand"))
    batches.zipWithIndex.foreach { case (b, i) =>
      TopKStream.applyBatch(spark, b, cells, cand, epoch = i.toLong)
    }
    val want = TopKStream.cellAgg(keyed(allIds))
      .select(col("r").cast("int"), col("b"), col("c"))
      .as[(Int, String, Long)].collect().toSet
    assert(readCells(cells) == want,
      "maintained CMS must be cell-for-cell equal to the batch recompute")

    // driver ranking: every key (domain 11 < batchCand) estimated against
    // the final cells, top-10 by (est DESC, key ASC)
    val cellMap = want.map { case (r, b, c) => (r, b) -> c }.toMap
    val keys = keyed(allIds).as[String].collect()
    val exact = keys.groupBy(identity).view.mapValues(_.length.toLong).toMap
    def est(key: String): Long =
      (0 until TopKStream.Depth)
        .map(r => cellMap((r, md5hex(s"${r}_$key").substring(0, 2)))).min
    val wantTop = exact.keys.toSeq.map(k => (k, est(k)))
      .sortBy { case (k, e) => (-e, k) }.take(10)
      .zipWithIndex.map { case ((k, e), i) => (i + 1, k, e) }.toSet
    val gotTop = TopKStream.readTopK(spark, cand)
      .as[(Int, String, Long)].collect().toSet
    assert(gotTop == wantTop)
    // CMS theorem on the emitted estimates: never under the exact count
    gotTop.foreach { case (_, k, e) =>
      assert(e >= exact(k), s"CMS must never undercount ($k: $e < ${exact(k)})") }
  }

  test("full replay of the last epoch is a no-op for cells AND candidates") {
    val (cells, cand) = (tmp("cells-r"), tmp("cand-r"))
    val bs = batches
    bs.zipWithIndex.foreach { case (b, i) =>
      TopKStream.applyBatch(spark, b, cells, cand, epoch = i.toLong)
    }
    val (c0, t0) = (readCells(cells),
      TopKStream.readTopK(spark, cand).as[(Int, String, Long)].collect().toSet)
    TopKStream.applyBatch(spark, bs.last, cells, cand, epoch = 2L)
    assert(readCells(cells) == c0, "replayed epoch must not double-count cells")
    assert(TopKStream.readTopK(spark, cand)
      .as[(Int, String, Long)].collect().toSet == t0)
  }

  test("partial cell commit: replay fills only missed cells and lands the same topK as a clean run") {
    val (cellsA, candA) = (tmp("cells-p"), tmp("cand-p"))
    val (cellsB, candB) = (tmp("cells-c"), tmp("cand-c"))
    val bs = batches
    // clean twin
    TopKStream.applyBatch(spark, bs(0), cellsB, candB, epoch = 0L)
    TopKStream.applyBatch(spark, bs(1), cellsB, candB, epoch = 1L)
    // crashed twin: epoch 0 lands fully; epoch 1 "crashes" after committing
    // only the r=0 row of cells (and before candidates) — simulate by
    // applying a delta whose cells are restricted to r=0, then replaying
    TopKStream.applyBatch(spark, bs(0), cellsA, candA, epoch = 0L)
    val d1 = TopKStream.cellAgg(bs(1))
      .withColumn("cell", concat_ws("|", col("r"), col("b")))
    val s = graft.io.Io.readDim(spark, cellsA)
    val partial = d1.filter(col("r") === 0)
      .join(s.select(col("cell"), col("c").as("__pc")), Seq("cell"), "left")
      .select(col("cell"), col("r"), col("b"),
        (col("c") + coalesce(col("__pc"), lit(0L))).as("c"),
        lit(1L).as("last_epoch"))
    graft.io.Io.upsertDim(spark, partial, cellsA, "cell", "last_epoch")
    // replay the whole epoch 1: r=0 cells are at last_epoch=1 (skipped),
    // r=1..3 merge; candidates then compute from the SAME post-merge cells
    // the clean run saw
    TopKStream.applyBatch(spark, bs(1), cellsA, candA, epoch = 1L)
    assert(readCells(cellsA) == readCells(cellsB),
      "partial-commit replay must fill only the missed cells, once")
    assert(TopKStream.readTopK(spark, candA).as[(Int, String, Long)].collect().toSet ==
      TopKStream.readTopK(spark, candB).as[(Int, String, Long)].collect().toSet,
      "candidate selection must be crash-placement independent")
  }

  test("estimate() answers any key from the cells and never undercounts") {
    val (cells, cand) = (tmp("cells-e"), tmp("cand-e"))
    TopKStream.applyBatch(spark, keyed(allIds), cells, cand, epoch = 0L)
    val exact = keyed(allIds).as[String].collect()
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val got = TopKStream.estimate(spark, cells,
      exact.keys.toSeq.toDF("key")).as[(String, Long)].collect().toMap
    assert(got.keySet == exact.keySet)
    exact.foreach { case (k, c) => assert(got(k) >= c) }
  }

  test("estimateJoinSize between two maintained stores: integer-exact, never under the true join size") {
    val ev = graft.Tables.load(spark, sf0001, "events")
      .select(col("event_type"), col("user_id").cast("string").as("key"))
    val (ca, cc) = (tmp("cells-jA"), tmp("cand-jA"))
    val (cb, cd) = (tmp("cells-jB"), tmp("cand-jB"))
    (0 to 1).foreach { i =>
      TopKStream.applyBatch(spark,
        ev.filter(col("event_type") === "click")
          .filter(pmod(xxhash64(col("key")), lit(2)) === i).select("key"), ca, cc, i.toLong)
      TopKStream.applyBatch(spark,
        ev.filter(col("event_type") === "purchase")
          .filter(pmod(xxhash64(col("key")), lit(2)) === i).select("key"), cb, cd, i.toLong)
    }
    val est = TopKStream.estimateJoinSize(spark, ca, cb).as[Long].collect().head
    val rows = ev.select(col("event_type").as[String], col("key").as[String]).collect()
    val fa = rows.filter(_._1 == "click").groupBy(_._2).view.mapValues(_.length.toLong)
    val fb = rows.filter(_._1 == "purchase").groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val exact = fa.map { case (k, f) => f * fb.getOrElse(k, 0L) }.sum
    assert(est >= exact, s"CMS inner product must never undercount ($est < $exact)")
    // and it equals the one-shot batch sketch of the same data (linearity)
    val (c1, d1) = (tmp("cells-j1"), tmp("cand-j1"))
    val (c2, d2) = (tmp("cells-j2"), tmp("cand-j2"))
    TopKStream.applyBatch(spark,
      ev.filter(col("event_type") === "click").select("key"), c1, d1, 0L)
    TopKStream.applyBatch(spark,
      ev.filter(col("event_type") === "purchase").select("key"), c2, d2, 0L)
    assert(est == TopKStream.estimateJoinSize(spark, c1, c2).as[Long].collect().head)
  }

  test("MemoryStream end-to-end via run() equals the applyBatch sequence") {
    implicit val sqlCtx = spark.sqlContext
    val (cellsS, candS) = (tmp("cells-s"), tmp("cand-s"))
    val (cellsD, candD) = (tmp("cells-d"), tmp("cand-d"))
    val ids = allIds.as[Long].collect()
    val ms = MemoryStream[Long]
    val q = EpochStore.run(
      ms.toDS().toDF("event_id")
        .select(Relational.geometricLevelKey(col("event_id")).as("key")),
      tempDir("graft-topk-ckpt")) {
      (delta, epoch) => TopKStream.applyBatch(spark, delta, cellsS, candS, epoch)
    }
    val chunks = ids.grouped((ids.length + 2) / 3).toSeq
    chunks.foreach { c => ms.addData(c.toSeq); q.processAllAvailable() }
    q.stop()
    chunks.zipWithIndex.foreach { case (c, i) =>
      TopKStream.applyBatch(spark, keyed(c.toSeq.toDF("event_id")),
        cellsD, candD, epoch = i.toLong)
    }
    assert(readCells(cellsS) == readCells(cellsD))
    assert(TopKStream.readTopK(spark, candS).as[(Int, String, Long)].collect().toSet ==
      TopKStream.readTopK(spark, candD).as[(Int, String, Long)].collect().toSet)
  }
}
