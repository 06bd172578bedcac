package graft.streaming

import graft.io.Io
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** THE EXACTLY-ONCE MERGE CONVENTION of every per-key read-modify-write
  * streaming maintainer in this repo — the end-to-end exactly-once rule of
  * the Structured Streaming paper (a foreachBatch epoch id gates an
  * idempotent upsert), and the rebuild's form of the reference's
  * Phoenix/HBase DIM upsert.
  *
  * Each store row carries `last_epoch`, the foreachBatch epoch that last
  * wrote it. A replayed epoch (crash between the sink write and the
  * checkpoint commit — Spark re-runs the batch) finds `last_epoch >= epoch`
  * on the keys it already merged and drops them, so re-applying is a no-op
  * PER KEY. That granularity also covers PARTIAL commits: [[Io.upsertDim]]
  * publishes bucket by bucket, so a crash can leave some buckets updated and
  * others not — on replay the updated keys are skipped while the missed ones
  * still merge. The merge itself is the caller's `combine`; everything else
  * (the single store read, the gate, the stamp, the bucketed upsert, and the
  * empty-store bootstrap) lives here, once.
  *
  * [[run]] is the one micro-batch entry point: it passes each batch id on
  * as the gate epoch. */
object EpochStore {

  /** Merge one micro-batch into the store at `path`, keyed by the unique
    * column `key` of `fresh`.
    *
    * The store is read ONCE: a left join of `fresh` to the store's `key`,
    * `last_epoch` and the `stored` columns (a DDL list, e.g.
    * `"n bigint, s array<bigint>"` — their types are declared here so an
    * empty store joins as an empty frame of that schema, and no caller
    * writes its own bootstrap branch). Keys the epoch already reached are
    * dropped; each surviving row is `combine(prev)` — `prev(c)` is the stored
    * value of `c`, null for a key the store has not seen — stamped with
    * `last_epoch = epoch` and upserted. `combine` lists every output column
    * except `last_epoch`, the key included. */
  def merge(spark: SparkSession, fresh: DataFrame, path: String, key: String,
            epoch: Long, stored: String)
           (combine: (String => Column) => Seq[Column]): Unit = {
    val schema = StructType(fresh.schema(key) +: StructField("last_epoch", LongType) +:
      StructType.fromDDL(stored).fields.toSeq)
    val store =
      if (Io.dimStoreHasData(path))
        Io.readDim(spark, path).select(schema.fieldNames.toSeq.map(col): _*)
      else spark.createDataFrame(java.util.List.of[Row](), schema)
    def prev(c: String): Column = col(s"__p_$c")
    val prior = store.toDF(key +: "__le" +: schema.fieldNames.toSeq.drop(2).map("__p_" + _): _*)
    val merged = fresh.join(prior, Seq(key), "left")
      .filter(col("__le").isNull || col("__le") < epoch)
      .select(combine(prev) :+ lit(epoch).as("last_epoch"): _*)
    Io.upsertDim(spark, merged, path, key, "last_epoch")
  }

  /** The additive form: every column in `valueCols` is added onto its stored
    * value under the SAME per-key gate (a row merges all of its values or
    * none); every other column of `d` is carried from the fresh row. The
    * stored types are the fresh ones. */
  def mergeAdditive(spark: SparkSession, d: DataFrame, path: String, key: String,
                    epoch: Long, valueCols: Seq[String]): Unit =
    merge(spark, d, path, key, epoch,
      StructType(valueCols.map(d.schema(_))).toDDL) { prev =>
      d.columns.toSeq.map { c =>
        if (valueCols.contains(c)) (col(c) + coalesce(prev(c), lit(0L))).as(c)
        else col(c)
      }
    }

  /** Drive `apply` from a streaming frame: one call per micro-batch, with the
    * batch id as the gate epoch. */
  def run(rows: DataFrame, checkpoint: String)
         (apply: (DataFrame, Long) => Unit): StreamingQuery = {
    Io.prepareStreaming(rows.sparkSession)
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (delta: DataFrame, epoch: Long) => apply(delta, epoch) }
      .start()
  }
}
