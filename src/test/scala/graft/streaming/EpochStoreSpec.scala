package graft.streaming

import java.io.File

import graft.{SparkSuite, Tables}
import graft.functions.TextFns
import graft.io.Io
import graft.operators.Relational
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The exactly-once property of every maintainer [[EpochStore]] serves,
  * proven once for all of them on sf0.001 inputs split into 2 epochs by a
  * key hash:
  *
  *  - full replay: re-applying the last epoch leaves every stored row
  *    unchanged, all columns included, and rewrites no bucket of an
  *    epoch-gated store;
  *  - partial commit: the last epoch is applied to a copy of the stores and
  *    only half of the copy's `__bucket=N` directories are copied over the
  *    originals — a crash mid-publish, modelled at the file layer, so no
  *    column knowledge is needed. Replaying the epoch must then give the
  *    clean run's store.
  *
  * One row per `applyBatch`; `gated` are its EpochStore stores, `others`
  * the stores it keeps by another rule (TopK's candidate row, Mixture's
  * set-idempotent shingle cells). */
class EpochStoreSpec extends SparkSuite {

  private case class Maintainer(name: String, gated: Seq[String], others: Seq[String],
                                apply: (Seq[String], Long) => Unit)

  private def split(df: DataFrame, key: String, e: Long): DataFrame =
    df.filter(pmod(xxhash64(col(key)), lit(2L)) === e)
  private def events(e: Long) = split(Tables.load(spark, sf0001, "events"), "event_id", e)
  private def docs(e: Long) = split(Tables.load(spark, sf0001, "documents"), "doc_id", e)
  private def texts(e: Long) = docs(e).select("source", "text")

  private val maintainers: Seq[Maintainer] = Seq(
    Maintainer("HdrStream", Seq("cells"), Nil, (p, e) =>
      HdrStream.applyBatch(spark, events(e).select("event_type", "value"), p(0), e)),
    Maintainer("TopKStream", Seq("cells"), Seq("cand"), (p, e) =>
      TopKStream.applyBatch(spark,
        events(e).select(Relational.geometricLevelKey(col("event_id")).as("key")),
        p(0), p(1), e)),
    Maintainer("TrendStream", Seq("cells"), Nil, (p, e) =>
      TrendStream.applyBatch(spark, events(e).select("props", "event_time"), p(0), e)),
    Maintainer("LmStream", Seq("cells"), Nil, (p, e) =>
      LmStream.applyBatch(spark, docs(e).select("doc_id", "text"), p(0), e)),
    Maintainer("BootstrapStream", Seq("cells"), Nil, (p, e) =>
      BootstrapStream.applyBatch(spark,
        split(Relational.bootstrapJoined(spark, sf0001), "okey", e), p(0), e)),
    Maintainer("MixtureStream.applyBatch", Seq("avail"), Seq("shingle"), (p, e) =>
      MixtureStream.applyBatch(spark, texts(e), p(0), p(1), e)),
    Maintainer("MixtureStream.applyAblationBatch", Seq("stats"), Nil, (p, e) =>
      MixtureStream.applyAblationBatch(spark, texts(e), p(0), e)),
    Maintainer("MixtureStream.applyKsBatch", Seq("hist"), Nil, (p, e) =>
      MixtureStream.applyKsBatch(spark, texts(e), p(0), e)),
    Maintainer("MixtureStream.applyDoremiBatch", Seq("tok"), Nil, (p, e) =>
      MixtureStream.applyDoremiBatch(spark, texts(e), p(0), e)),
    Maintainer("MixtureStream.applyPmiBatch", Seq("pmi"), Nil, (p, e) =>
      MixtureStream.applyPmiBatch(spark, texts(e), p(0), e)),
    Maintainer("MixtureStream.applyChao1Batch", Seq("term"), Nil, (p, e) =>
      MixtureStream.applyChao1Batch(spark, texts(e), p(0), e)),
    Maintainer("MixtureStream.applyPackingBatch", Seq("len"), Nil, (p, e) =>
      MixtureStream.applyPackingBatch(spark, texts(e), p(0), e)),
    Maintainer("MixtureStream.applyKappaBatch", Seq("conf"), Nil, (p, e) =>
      MixtureStream.applyKappaBatch(spark, texts(e), p(0), e)),
    Maintainer("MixtureStream.applyBhBatch", Seq("pass"), Nil, (p, e) =>
      MixtureStream.applyBhBatch(spark, docs(e).select("source", "n_chars"), p(0), e)),
    Maintainer("MixtureStream.applyNoveltyBatch", Seq("tok"), Seq("cells"), (p, e) =>
      MixtureStream.applyNoveltyBatch(spark, docs(e).select("source", "doc_id", "text"),
        p(0), p(1), e)),
    Maintainer("RateWatch", Seq("counts"), Nil, (p, e) =>
      RateWatch.applyBatch(spark, events(e).select("event_type", "event_time"), p(0), e)),
    Maintainer("IncrementalMv", Seq("mv"), Nil, (p, e) =>
      IncrementalMv.applyBatch(spark,
        events(e).select("event_time", "event_type", "value"), p(0), e)),
    Maintainer("IncrementalMv with a distinct sketch", Seq("mv"), Nil, (p, e) =>
      IncrementalMv.applyBatch(spark,
        events(e).select("event_time", "event_type", "value", "user_id"), p(0), e,
        distinctCol = Some("user_id"))),
    Maintainer("IndexStream", Seq("index"), Nil, (p, e) =>
      IndexStream.applyBatch(spark, docs(e).select("doc_id", "text"), p(0), e)),
    Maintainer("CentroidStream", Seq("sums"), Nil, (p, e) =>
      CentroidStream.applyBatch(spark,
        split(Tables.load(spark, sf0001, "embeddings"), "vec_id", e)
          .join(Tables.load(spark, sf0001, "documents")
            .select(col("doc_id").as("vec_id"), col("source")), Seq("vec_id"))
          .select("source", "embedding"), p(0), e)),
    Maintainer("ConformalStream", Seq("cal"), Nil, (p, e) =>
      ConformalStream.applyBatch(spark, docs(e).select(col("doc_id"),
        TextFns.classifierScoreUdf(TextFns.tokensCol(col("text"))).as("score")), p(0), e)),
    Maintainer("SampleStream", Seq("sample"), Nil, (p, e) =>
      SampleStream.applyBatch(spark, docs(e).select("doc_id", "lang"), p(0), e)),
    Maintainer("FunnelStream", Seq("funnel"), Nil, (p, e) =>
      FunnelStream.applyBatch(spark,
        events(e).select("user_id", "event_time", "event_id", "event_type"), p(0), e)),
    Maintainer("Scd2Stream", Seq("history"), Nil, (p, e) =>
      Scd2Stream.applyBatch(spark, events(e).select(col("user_id"),
        col("event_type").as("state"), col("event_time"), col("event_id")), p(0), e)),
    Maintainer("QualityStream", Seq("quality"), Nil, (p, e) =>
      QualityStream.applyBatch(spark,
        split(Tables.load(spark, sf0001, "orders"), "o_orderkey", e), p(0), e)))

  /** Every stored row, all columns, as sorted JSON lines. */
  private def rows(path: String): Seq[String] =
    if (!Io.dimStoreHasData(path)) Nil
    else {
      val s = Io.readDim(spark, path)
      s.select(to_json(struct(s.columns.sorted.toSeq.map(col): _*)))
        .collect().map(_.getString(0)).sorted.toSeq
    }

  private def buckets(path: String): Seq[File] =
    Option(new File(path).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("__bucket=")).sortBy(_.getName)

  /** The data files of every bucket: a rewritten bucket gets new names. */
  private def files(path: String): Seq[String] =
    buckets(path).flatMap(b => b.list().toSeq.map(f => s"${b.getName}/$f")).sorted

  /** A crash mid-publish: every other bucket of `from` lands over `to`. */
  private def publishHalf(from: String, to: String): Unit = {
    val marker = new File(to, "_buckets")
    if (!marker.exists()) FileUtils.copyFile(new File(from, "_buckets"), marker)
    buckets(from).zipWithIndex.collect { case (b, i) if i % 2 == 0 => b }.foreach { b =>
      val target = new File(to, b.getName)
      FileUtils.deleteDirectory(target)
      FileUtils.copyDirectory(b, target)
    }
  }

  maintainers.foreach { m =>
    test(s"${m.name}: a replayed epoch and a partial commit both leave the clean run's store") {
      val root = new File(tempDir("graft-epoch-store"))
      def stores(run: String) = (m.gated ++ m.others).map(s => new File(root, s"$run/$s").getPath)
      val (clean, crashed) = (stores("clean"), stores("crashed"))
      m.apply(clean, 0L)
      clean.zip(crashed).foreach { case (c, x) =>
        if (new File(c).exists()) FileUtils.copyDirectory(new File(c), new File(x))
      }
      m.apply(clean, 1L)
      val want = clean.map(rows)
      assert(want.forall(_.nonEmpty), s"${m.name}: every store must hold rows after 2 epochs")
      val gatedFiles = clean.take(m.gated.size).map(files)

      m.apply(clean, 1L)
      assert(clean.map(rows) == want, s"${m.name}: a full replay changed a stored row")
      assert(clean.take(m.gated.size).map(files) == gatedFiles,
        s"${m.name}: a full replay rewrote a bucket of an epoch-gated store")

      clean.zip(crashed).foreach { case (c, x) => publishHalf(c, x) }
      m.apply(crashed, 1L)
      assert(crashed.map(rows) == want,
        s"${m.name}: replay after a partial commit differs from the clean run")
    }
  }
}
