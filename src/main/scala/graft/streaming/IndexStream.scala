package graft.streaming

import graft.io.Io
import graft.operators.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STREAMING INDEX MAINTENANCE — the streaming twin of q171's positional
  * inverted index: newly ingested documents fold into the (term, chunk)
  * postings store incrementally, which is how real search/retrieval systems
  * keep an index fresh without rebuilding it (the merge-on-ingest half of a
  * Lucene-style design, minus background segment merging).
  *
  * Why this maintains exactly: a document's postings entries are constants
  * of the document itself, and `chunk = doc_id div chunkDocs` is map-side
  * arithmetic — so a batch's contribution to a (term, chunk) cell is a set
  * of entries DISJOINT from every other batch's (doc_ids are unique), df/cf
  * are additive counts, and the postings string is the doc-ordered merge of
  * the two entry sets. Merge = split '|' → union → numeric sort on the
  * entry's doc prefix → re-join; df/cf add. The per-cell `last_epoch` gate
  * (the [[EpochStore]] discipline, with a non-additive value column handled
  * by an idempotent set-union instead of addition) makes replays and partial
  * bucket commits fill-once: a replayed batch's entries are already present
  * and the epoch gate skips the cell entirely, so nothing double-counts.
  *
  * The maintained store is cell-for-cell equal to the batch q171 over
  * everything absorbed (spec-pinned), so the read path IS the batch
  * operator's output shape at read cost independent of history. */
object IndexStream {

  /** Merge one micro-batch of documents (doc_id, text) into the postings
    * store. Idempotent per (cell, epoch). */
  def applyBatch(spark: SparkSession, delta: DataFrame, path: String,
                 epoch: Long, chunkDocs: Int = 256): Unit = {
    val d = TextOps.positionalIndexFrom(delta, chunkDocs)
      .withColumn("cell", concat_ws("|~|", col("term"), col("chunk")))
    EpochStore.merge(spark, d, path, "cell", epoch,
      "df bigint, cf bigint, postings string") { prev =>
      Seq(col("term"), col("chunk"),
        (col("df") + coalesce(prev("df"), lit(0L))).as("df"),
        (col("cf") + coalesce(prev("cf"), lit(0L))).as("cf"),
        when(prev("postings").isNull, col("postings"))
          .otherwise(mergePostings(prev("postings"), col("postings"))).as("postings"),
        col("cell"))
    }
  }

  /** Doc-ordered merge of two '|'-joined postings strings: split, union,
    * sort by the numeric doc prefix, re-join. Entry sets from different
    * batches are disjoint (doc_ids are unique), so union is idempotent. */
  private[streaming] def mergePostings(a: org.apache.spark.sql.Column,
                                       b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    array_join(
      transform(
        sort_array(transform(
          array_union(split(a, "\\|"), split(b, "\\|")),
          e => struct(split(e, ":").getItem(0).cast("long").as("d"), e.as("e")))),
        s => s.getField("e")),
      "|")

  /** The q171 output shape from the maintained store. */
  def readIndex(spark: SparkSession, path: String): DataFrame =
    Io.readDim(spark, path).select("term", "chunk", "df", "cf", "postings")
}
