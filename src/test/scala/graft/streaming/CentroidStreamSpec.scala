package graft.streaming

import graft.SparkSuite
import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming centroid-drift maintenance (CentroidStream): per-source MMD
  * sufficient statistics (n, Σq) are additive, the vector column merging
  * via zip_with under the same per-key epoch gate as the scalar count —
  * the maintained store must equal the batch sums cell-for-cell AND the
  * derived drift matrix must equal batch q193 exactly. */
class CentroidStreamSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(tag: String): String =
    tempDir(s"graft-cent-$tag")

  private def rows: DataFrame =
    graft.Tables.load(spark, sf001, "embeddings")
      .join(graft.Tables.load(spark, sf001, "documents")
        .select(col("doc_id").as("vec_id"), col("source")), Seq("vec_id"))
      .select("vec_id", "source", "embedding")

  private def batches: Seq[DataFrame] =
    (0 to 2).map(i => rows.filter(col("vec_id") % 3 === i)
      .select("source", "embedding"))

  private type DRow = (String, String, Long, Long, Long)

  private def readSums(path: String): Map[String, (Long, Seq[Long])] =
    graft.io.Io.readDim(spark, path).select("source", "n", "s")
      .as[(String, Long, Seq[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

  test("3-batch maintenance: sums equal the batch sufficient statistics; drift equals batch q193") {
    val store = tmp("store")
    batches.zipWithIndex.foreach { case (b, i) =>
      CentroidStream.applyBatch(spark, b, store, epoch = i.toLong)
    }
    val want = Similarity.centroidSums(spark, sf001)
      .as[(String, Long, Seq[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(readSums(store) == want,
      "maintained (n, vector-sum) must equal the batch sufficient statistics")
    assert(CentroidStream.readDrift(spark, store).as[DRow].collect().toSet ==
      Similarity.centroidDrift(spark, sf001).as[DRow].collect().toSet,
      "maintained drift matrix must equal the batch operator exactly")
  }

  test("full replay of the last epoch is a no-op (vector column included)") {
    val store = tmp("store-r")
    val bs = batches
    bs.zipWithIndex.foreach { case (b, i) =>
      CentroidStream.applyBatch(spark, b, store, epoch = i.toLong)
    }
    val before = readSums(store)
    CentroidStream.applyBatch(spark, bs.last, store, epoch = 2L)
    assert(readSums(store) == before)
  }

  test("partial commit: replay fills only the missed sources, both n and the vector, once") {
    val (a, b) = (tmp("store-p"), tmp("store-c"))
    val bs = batches
    CentroidStream.applyBatch(spark, bs(0), b, epoch = 0L)
    CentroidStream.applyBatch(spark, bs(1), b, epoch = 1L)
    CentroidStream.applyBatch(spark, bs(0), a, epoch = 0L)
    // simulate a crash that committed only the even-hash sources of epoch 1
    val d1 = bs(1)
      .select(col("source"),
        expr("transform(embedding, x -> cast(floor(cast(x as double) * 1048576.0) as int))")
          .as("q"))
      .groupBy("source")
      .agg(count(lit(1)).as("dn"), graft.functions.Aggregators.vecSum(col("q")).as("ds"))
      .filter(abs(hash(col("source"))) % 2 === 0)
    val s = graft.io.Io.readDim(spark, a)
    val partial = d1
      .join(s.select(col("source"), col("n").as("pn"), col("s").as("ps")),
        Seq("source"), "left")
      .select(col("source"),
        (col("dn") + coalesce(col("pn"), lit(0L))).as("n"),
        when(col("ps").isNull, col("ds"))
          .otherwise(expr("zip_with(ds, ps, (x, y) -> x + y)")).as("s"),
        lit(1L).as("last_epoch"))
    graft.io.Io.upsertDim(spark, partial, a, "source", "last_epoch")
    CentroidStream.applyBatch(spark, bs(1), a, epoch = 1L)
    assert(readSums(a) == readSums(b))
  }
}
