package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.Tables
import graft.functions.TextFns
import graft.io.Io
import graft.operators.Relational
import graft.streaming._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The 19 exactly-once maintainers fed E epochs of deltas (sf tables split by
  * a seeded key hash), then one epoch replayed: a replay must leave every
  * store's content unchanged. */
final class Maintain extends Workload {
  def session(a: Args): SparkSession.Builder = Harness.batchSession(a)

  private val tables = Seq("events", "documents", "embeddings", "orders", "customer")

  def warm(spark: SparkSession, a: Args, r: Result): Unit =
    tables.foreach(n => Tables.load(spark, a.sf, n).count())

  /** name → (store paths, apply(spark, epoch dir, stores, epoch)). Deltas are
    * shaped as the maintainers' specs shape them from the same tables. */
  private def maintainers(sf: String): Seq[(String, Seq[String], (SparkSession, String, Seq[String], Long) => Unit)] = {
    def ev(s: SparkSession, d: String) = Tables.load(s, d, "events")
    def docs(s: SparkSession, d: String) = Tables.load(s, d, "documents")
    def emb(s: SparkSession, d: String) = Tables.load(s, d, "embeddings")
    Seq(
      ("HdrStream", Seq("hdr"), (s, d, p, e) =>
        HdrStream.applyBatch(s, ev(s, d).select("event_type", "value"), p(0), e)),
      ("IndexStream", Seq("index"), (s, d, p, e) =>
        IndexStream.applyBatch(s, docs(s, d).select("doc_id", "text"), p(0), e)),
      ("TopKStream", Seq("topk_cells", "topk_cand"), (s, d, p, e) =>
        TopKStream.applyBatch(s, ev(s, d).select(Relational.geometricLevelKey(col("event_id")).as("key")),
          p(0), p(1), e)),
      ("QualityStream", Seq("quality"), (s, d, p, e) =>
        QualityStream.applyBatch(s, Tables.load(s, d, "orders"), p(0), e)),
      ("BootstrapStream", Seq("bootstrap"), (s, d, p, e) =>
        BootstrapStream.applyBatch(s, Tables.load(s, d, "orders")
          .join(Tables.load(s, sf, "customer"), col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment").as("segment"), col("o_orderkey").as("okey"),
            floor(col("o_totalprice") * 100).cast("long").as("cents")), p(0), e)),
      ("Scd2Stream", Seq("scd2"), (s, d, p, e) =>
        Scd2Stream.applyBatch(s, ev(s, d).select(col("user_id"), col("event_type").as("state"),
          col("event_time"), col("event_id")), p(0), e)),
      ("IncrementalMv", Seq("mv"), (s, d, p, e) =>
        IncrementalMv.applyBatch(s, ev(s, d).select("event_time", "event_type", "value"), p(0), e)),
      ("EntityRegistry", Seq("registry"), (s, d, p, e) =>
        EntityRegistry.applyBatch(s, Tables.load(s, d, "customer")
          .select(col("c_custkey"), col("c_name"), col("c_nationkey"), col("c_mktsegment"),
            floor(col("c_acctbal") * 100).cast("long").as("cents")), p(0), e)),
      ("MixtureStream", Seq("mix_avail", "mix_shingle"), (s, d, p, e) =>
        MixtureStream.applyBatch(s, docs(s, d).select("source", "text"), p(0), p(1), e)),
      ("ConformalStream", Seq("conformal"), (s, d, p, e) =>
        ConformalStream.applyBatch(s, docs(s, d).select(col("doc_id"),
          TextFns.classifierScoreUdf(TextFns.tokensCol(col("text"))).as("score")), p(0), e)),
      ("KCenterStream", Seq("kcenter"), (s, d, p, e) =>
        KCenterStream.applyBatch(s, emb(s, d).select("vec_id", "embedding"), p(0), e)),
      ("LmStream", Seq("lm"), (s, d, p, e) =>
        LmStream.applyBatch(s, docs(s, d).select("doc_id", "text"), p(0), e)),
      ("CentroidStream", Seq("centroid"), (s, d, p, e) =>
        CentroidStream.applyBatch(s, emb(s, d)
          .join(Tables.load(s, sf, "documents").select(col("doc_id").as("vec_id"), col("source")), Seq("vec_id"))
          .select("source", "embedding"), p(0), e)),
      ("SampleStream", Seq("sample"), (s, d, p, e) =>
        SampleStream.applyBatch(s, docs(s, d).select("doc_id", "lang"), p(0), e)),
      ("TrendStream", Seq("trend"), (s, d, p, e) =>
        TrendStream.applyBatch(s, ev(s, d).select("props", "event_time"), p(0), e)),
      ("FunnelStream", Seq("funnel"), (s, d, p, e) =>
        FunnelStream.applyBatch(s, ev(s, d).select("user_id", "event_time", "event_id", "event_type"), p(0), e)),
      ("RedundancyStream", Seq("redundancy"), (s, d, p, e) =>
        RedundancyStream.applyBatch(s, docs(s, d).select("source", "doc_id", "text"), p(0), e)),
      ("RateWatch", Seq("ratewatch"), (s, d, p, e) =>
        RateWatch.applyBatch(s, ev(s, d).select("event_id", "event_type", "event_time"), p(0), e)),
      ("FacilityStream", Seq("facility_pool", "facility_cells"), (s, d, p, e) =>
        // a pool-changing batch re-anchors from everything absorbed so far
        FacilityStream.applyBatch(s, emb(s, d).select("vec_id", "embedding"), p(0), p(1), e,
          reanchorWith = Some(() => (0L to e).map(i => emb(s, d.replaceAll("epoch_\\d+$", s"epoch_$i"))
            .select("vec_id", "embedding")).reduce(_ unionByName _)))))
  }

  /** Order-insensitive content fingerprint of one store. */
  private def fingerprint(spark: SparkSession, path: String): String =
    if (!Io.dimStoreHasData(path) && !new File(path).exists) "absent"
    else {
      val df = Io.readDim(spark, path)
      val h = xxhash64(to_json(struct(df.columns.sorted.map(col): _*)))
      df.select(count(lit(1)), sum(h.bitwiseAND(lit(0xFFFFFFFL))), bit_xor(h))
        .collect().head.toSeq.mkString("/")
    }

  def run(spark: SparkSession, a: Args, t: Trace, r: Result): Unit = {
    val epochs = Option(new File(a.gen).listFiles()).getOrElse(Array.empty)
      .count(_.getName.startsWith("epoch_"))
    require(epochs > 0, s"no epoch_* directories under ${a.gen}")
    val ms = maintainers(a.sf)
    val store = s"${a.work}/stores"
    def paths(names: Seq[String]) = names.map(n => s"$store/$n")
    val calls = mutable.ArrayBuffer.empty[Map[String, Any]]
    val applyMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val sc = spark.sparkContext
    val rowsOf = (0 until epochs).map { e =>
      val d = s"${a.gen}/epoch_$e"
      Seq("events", "documents", "embeddings", "orders", "customer")
        .map(n => n -> Tables.load(spark, d, n).count()).toMap
    }
    val inputOf: Map[String, String] = Map(
      "HdrStream" -> "events", "IndexStream" -> "documents", "TopKStream" -> "events",
      "QualityStream" -> "orders", "BootstrapStream" -> "orders", "Scd2Stream" -> "events",
      "IncrementalMv" -> "events", "EntityRegistry" -> "customer", "MixtureStream" -> "documents",
      "ConformalStream" -> "documents", "KCenterStream" -> "embeddings", "LmStream" -> "documents",
      "CentroidStream" -> "embeddings", "SampleStream" -> "documents", "TrendStream" -> "events",
      "FunnelStream" -> "events", "RedundancyStream" -> "documents", "RateWatch" -> "events",
      "FacilityStream" -> "embeddings")
    def call(name: String, stores: Seq[String], f: (SparkSession, String, Seq[String], Long) => Unit,
             e: Int): (Double, Option[String]) = {
      val t0 = System.nanoTime()
      val err = try {
        t.span("applyBatch", s"$name@$e", Some(sc)) { f(spark, s"${a.gen}/epoch_$e", paths(stores), e.toLong) }
        None
      } catch { case NonFatal(x) => Some(s"$name epoch $e: ${x.getMessage}") }
      ((System.nanoTime() - t0) / 1e6, err)
    }
    var epochSpans = Seq.empty[Long]
    for (e <- 0 until epochs) {
      t.span("epoch", s"epoch $e", Some(sc)) {
        epochSpans :+= t.currentId
        ms.foreach { case (name, stores, f) =>
          val (msTaken, err) = call(name, stores, f, e)
          r.op(err)
          applyMs(name) += msTaken
          calls += Map("name" -> name, "epoch" -> e, "ms" -> msTaken, "rows" -> rowsOf(e)(inputOf(name)))
        }
      }
    }
    r.samples("calls") = calls.toList
    // replay one (seeded) epoch: every store must be left as it was
    val replay = (a.seed % epochs).toInt
    var replayMs = 0.0
    ms.foreach { case (name, stores, f) =>
      val before = paths(stores).map(fingerprint(spark, _))
      val (msTaken, err) = call(name, stores, f, replay)
      replayMs += msTaken
      val after = paths(stores).map(fingerprint(spark, _))
      r.op(err.orElse(if (before == after) None
        else Some(s"$name: replay of epoch $replay changed the store ($before -> $after)")))
    }
    r.samples("replay_ms") = replayMs
    if (t.enabled) {
      org.apache.spark.BusDrain.drain(sc)
      ms.foreach { case (name, _, _) => r.layers(s"maintain.$name.apply_ms") = applyMs(name) }
      r.layers("maintain.replay_apply_ms") = replayMs
      r.layers("io.store_bytes_end") = Harness.dirBytes(store)._2.toDouble
      r.layers("maintain.jobs_per_epoch") = epochSpans.map(Trace.jobsUnder(t, _)).sum.toDouble / epochs
    }
  }
}
