package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming q196 maintenance (RedundancyStream): the bottom-k-by-hash doc
  * sample is mergeable, so a 3-batch ingest must reproduce the batch
  * operator EXACTLY — including evictions, which is why the spec runs at
  * k = 8 (sf0.01 holds ~25 docs per source, so every batch displaces
  * earlier sample members; the default k = 32 would never evict here). */
class RedundancyStreamSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(tag: String): String =
    tempDir(s"graft-red-$tag")

  private def batches: Seq[DataFrame] =
    (0 to 2).map(i => graft.Tables.load(spark, sf001, "documents")
      .filter(col("doc_id") % 3 === i)
      .select("source", "doc_id", "text"))

  private type RRow = (String, Long, Long)

  test("3-batch maintenance equals the batch operator exactly, evictions included (k=8)") {
    val store = tmp("store")
    batches.zipWithIndex.foreach { case (b, i) =>
      RedundancyStream.applyBatch(spark, b, store, epoch = i.toLong, k = 8)
    }
    val got = RedundancyStream.readRedundancy(spark, store)
      .as[RRow].collect().toSet
    val want = graft.operators.Dedup.sourceRedundancy(spark, sf001, sampleK = 8)
      .as[RRow].collect().toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
    // eviction really happened: no source's sample exceeds k, and at least
    // one source absorbed more docs than k across the three batches
    val sizes = graft.io.Io.readDim(spark, store)
      .select(col("source"), size(col("sample")).as("n"))
      .as[(String, Int)].collect().toMap
    assert(sizes.values.max <= 8, s"sample overflow: $sizes")
    val docCounts = graft.Tables.load(spark, sf001, "documents")
      .groupBy("source").count().as[(String, Long)].collect().toMap
    assert(docCounts.values.max > 8, "fixture must force evictions")
  }

  test("full replay of the last epoch is a no-op on the sample store") {
    val store = tmp("replay")
    val bs = batches
    bs.zipWithIndex.foreach { case (b, i) =>
      RedundancyStream.applyBatch(spark, b, store, epoch = i.toLong, k = 8)
    }
    def snap: Set[(String, Long, Long)] = graft.io.Io.readDim(spark, store)
      .select(col("source"), explode(col("sample")).as("s"))
      .select(col("source"), col("s.doc_id"), col("s.h"))
      .as[(String, Long, Long)].collect().toSet
    val before = snap
    RedundancyStream.applyBatch(spark, bs.last, store, epoch = 2L, k = 8)
    assert(snap == before, "replayed epoch must not change the sample sets")
  }
}
