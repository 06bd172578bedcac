package graft.apps

import graft.SparkSuite
import graft.operators.Similarity
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Round-7 VERDICT #5: the streaming curation twin end-to-end — quality
  * gate + exact admission + semantic admission + real-JDBC landing — with a
  * kill-mid-stream/restart across the SAME checkpoint proving no duplicate
  * admissions survive the crash-replay cadence. */
class StreamingCurationSpec extends SparkSuite {

  test("streaming curation: gate+dedup+semantic admission land exactly once across kill/restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempPath("graft-stream-cur")
    val url = s"jdbc:duckdb:${dir.resolve("cur.duckdb")}"
    val ckpt = dir.resolve("ckpt").toString

    // the quality gate includes the pseudo-random linear classifier, so
    // fixture texts are PICKED to pass it (≥10 tokens AND score ≥ 0) — a
    // hardcoded sentence can silently land on a negative score and turn a
    // dedup assertion into a gate rejection
    def toks(t: String): Seq[String] = "[a-z0-9]+".r.findAllIn(t.toLowerCase).toSeq
    def passesGate(t: String): Boolean =
      toks(t).length >= 10 && graft.functions.TextFns.classifierScore(toks(t)) >= 0
    val candidates = (1 to 200)
      .map(n => s"spark table window join agg scan shuffle partition document number $n ok")
      .filter(passesGate)
    assert(candidates.length >= 4, "fixture needs four gate-passing texts")
    val Seq(storedText, text3, text4, text6) = candidates.take(4)

    // stores: one known text fingerprint; two orthogonal-ish base vectors
    val fpStore = Seq(storedText).toDF("text")
      .select(md5(col("text").cast("binary")).as("fingerprint"))
    val base1 = Seq.tabulate(64)(d => if (d < 32) 1.0f else 0.0f)
    val base2 = Seq.tabulate(64)(d => if (d >= 32) 1.0f else 0.0f)
    val embStore = Seq((100L, base1), (101L, base2)).toDF("vec_id", "embedding")
    val cent = Similarity.trainCentroids(Array(base1.toArray, base2.toArray), k = 2, iters = 2)

    val nearStore = Seq.tabulate(64)(d => if (d < 32) 0.9f else 0.1f)
    val fresh = Seq.tabulate(64)(d => if (d % 2 == 0) 1.0f else -1.0f)
    val fresh2 = Seq.tabulate(64)(d => if (d % 3 == 0) 1.0f else -1.0f)

    val ms = MemoryStream[(Long, String, String, String, Seq[Float])]
    def runOnce(): Unit = {
      val q = StreamingCuration.run(spark,
        ms.toDS().toDF("doc_id", "text", "lang", "source", "embedding"),
        fpStore, embStore, cent, url, "curated_admissions", ckpt)
      q.awaitTermination() // AvailableNow: drain, commit, exit = the kill point
    }

    // run 1: every rejection path + one admission
    ms.addData(
      (1L, "too short", "en", "web", fresh),              // quality-gated
      (2L, storedText, "en", "web", fresh),               // exact dup of store
      (3L, text3, "en", "web", nearStore),                // semantic dup of store
      (4L, text4, "en", "web", fresh),                    // ADMITTED
      (5L, text4, "en", "mirror", fresh2))                // in-stream exact dup of 4
    runOnce()

    // KILL happened (run 1 exited); RESTART on the same checkpoint with
    // re-sends of everything already admitted plus one genuinely new doc —
    // the fingerprint state and the epoch-idempotent sink must both hold
    ms.addData(
      (4L, text4, "en", "web", fresh),                    // full re-send
      (6L, text6, "en", "web", fresh2))                   // ADMITTED
    runOnce()
    // idle restart: nothing new, nothing double-lands
    runOnce()

    val got = spark.read.jdbc(url, "curated_admissions", new java.util.Properties())
    assert(!got.schema.fieldNames.contains("text") &&
      !got.schema.fieldNames.contains("embedding"),
      "fat transient columns must not reach the database")
    val admitted = got.select($"doc_id").as[Long].collect().sorted.toSeq
    assert(admitted == Seq(4L, 6L),
      s"admissions must be exactly docs 4 and 6, once each: $admitted")
    // the admitted rows carry the curation evidence columns
    val row4 = got.filter($"doc_id" === 4L).collect().head
    assert(row4.getAs[Long]("token_ct") >= 10)
    assert(row4.getAs[String]("fingerprint").nonEmpty)
  }

  test("composed DSIR stage: off-target docs rejected by relevance, not by gate/dedup/semantic") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextOps
    val dir = tempPath("graft-sc-dsir")

    // train-batch half: ratios learned from a batch store corpus where the
    // target domain speaks alpha/beta and the rest gamma/delta (the
    // dsirSelect fixture vocabulary — buckets 2c/98 vs 05/63)
    val trainCorpus = Seq(
      (1L, ("alpha " * 500 + "beta " * 500).trim, "tgt"),
      (2L, ("gamma " * 500 + "delta " * 500).trim, "other"))
      .toDF("doc_id", "text", "source")
    val ratios = TextOps.dsirRatios(trainCorpus, "tgt")

    // serve-stream half: both fixture texts must pass the QUALITY gate
    // (picked, per the classifier-fixture lesson) and differ only in domain
    def toks(t: String): Seq[String] = "[a-z0-9]+".r.findAllIn(t.toLowerCase).toSeq
    def passesGate(t: String): Boolean =
      toks(t).length >= 10 && graft.functions.TextFns.classifierScore(toks(t)) >= 0
    val tgtText = (1 to 200).map(n => ("alpha beta " * 5).trim + s" n$n")
      .filter(passesGate).headOption.getOrElse(fail("no gate-passing target text"))
    val offText = (1 to 200).map(n => ("gamma delta " * 5).trim + s" n$n")
      .filter(passesGate).headOption.getOrElse(fail("no gate-passing off-target text"))
    // pin the expected relevance split with the BATCH operator (parity with
    // the stream stage is already spec-gated in TextOpsSpec "dsirGate")
    val batchPass = TextOps.dsirGate(
      Seq((0L, tgtText, "web"), (1L, offText, "web")).toDF("doc_id", "text", "source"),
      ratios).select("doc_id").as[Long].collect().toSet
    assert(batchPass == Set(0L), s"fixture must split on relevance alone: $batchPass")

    // stores that reject NOTHING in this stream: unrelated fingerprint,
    // embeddings orthogonal to both store vectors
    val fpStore = Seq("unrelated stored doc text").toDF("text")
      .select(md5(col("text").cast("binary")).as("fingerprint"))
    val base1 = Seq.tabulate(64)(d => if (d < 32) 1.0f else 0.0f)
    val base2 = Seq.tabulate(64)(d => if (d >= 32) 1.0f else 0.0f)
    val embStore = Seq((100L, base1), (101L, base2)).toDF("vec_id", "embedding")
    val cent = Similarity.trainCentroids(Array(base1.toArray, base2.toArray), k = 2, iters = 2)
    val fresh = Seq.tabulate(64)(d => if (d % 2 == 0) 1.0f else -1.0f)
    val fresh2 = Seq.tabulate(64)(d => if (d % 3 == 0) 1.0f else -1.0f)
    val docs = Seq(
      (10L, tgtText, "en", "web", fresh),
      (11L, offText, "en", "web", fresh2))

    // with the relevance gate: only the target-domain doc lands
    val msA = MemoryStream[(Long, String, String, String, Seq[Float])]
    msA.addData(docs: _*)
    StreamingCuration.run(spark,
      msA.toDS().toDF("doc_id", "text", "lang", "source", "embedding"),
      fpStore, embStore, cent, s"jdbc:duckdb:${dir.resolve("dsir.duckdb")}",
      "curated_admissions", dir.resolve("ckptA").toString,
      dsir = Some(ratios)).awaitTermination()
    val withDsir = spark.read.jdbc(s"jdbc:duckdb:${dir.resolve("dsir.duckdb")}",
        "curated_admissions", new java.util.Properties())
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(withDsir == Seq(10L), s"relevance gate must reject doc 11 only: $withDsir")

    // control: the SAME stream without the stage admits both — so the
    // rejection above is the DSIR stage's, not a gate/dedup/semantic side
    // effect of the fixture
    val msB = MemoryStream[(Long, String, String, String, Seq[Float])]
    msB.addData(docs: _*)
    StreamingCuration.run(spark,
      msB.toDS().toDF("doc_id", "text", "lang", "source", "embedding"),
      fpStore, embStore, cent, s"jdbc:duckdb:${dir.resolve("nodsir.duckdb")}",
      "curated_admissions", dir.resolve("ckptB").toString).awaitTermination()
    val without = spark.read.jdbc(s"jdbc:duckdb:${dir.resolve("nodsir.duckdb")}",
        "curated_admissions", new java.util.Properties())
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(without == Seq(10L, 11L), s"control run must admit both docs: $without")
  }

  test("file-stream binding: JSONL docs dir through the full admission into DuckDB (the main's shape)") {
    import spark.implicits._
    // the deployment binding the launchable main uses — a JSONL topic
    // directory via Io.jsonFileStream + the real sf0.001 parquet stores —
    // exercised as a repeatable gate (it caught the hidden-driver bug and
    // the classifier-gated-fixture trap when first run by hand, NOTES_r7)
    val dir = tempPath("graft-sc-file")
    val inDir = dir.resolve("in").toString
    new java.io.File(inDir).mkdirs()
    val url = s"jdbc:duckdb:${dir.resolve("cur.duckdb")}"

    def toks(t: String): Seq[String] = "[a-z0-9]+".r.findAllIn(t.toLowerCase).toSeq
    def passesGate(t: String): Boolean =
      toks(t).length >= 10 && graft.functions.TextFns.classifierScore(toks(t)) >= 0
    val corpus = graft.Tables.load(spark, sf0001, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    // verbatim gate-passing store texts → rejection MUST come from the
    // exact-dup anti-join, not the gate; perturbed gate-passing texts →
    // fresh fingerprints that must be admitted
    val verbatim = corpus.filter(d => passesGate(d._2)).take(10)
    val perturbed = corpus.map { case (i, t) => (i, t + s" zz$i") }
      .filter(d => passesGate(d._2)).take(10)
    assert(verbatim.length == 10 && perturbed.length == 10, "fixture needs 10+10 gate-passers")
    // one fixed stream embedding, proven far from EVERY store vector so the
    // semantic stage cannot reject anything (no random-collision flake)
    val streamEmb = Seq.tabulate(64)(d => if (d % 2 == 0) 1.0f else -1.0f)
    val store = graft.Tables.load(spark, sf0001, "embeddings")
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      d / (math.sqrt(a.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    assert(store.forall(v => cos(streamEmb, v._2) < 0.4),
      "fixture embedding must be semantically fresh vs the whole store")

    val rows =
      verbatim.zipWithIndex.map { case ((_, t), i) => (20000L + i, t) } ++
      perturbed.zipWithIndex.map { case ((_, t), i) => (21000L + i, t) }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val json = rows.map { case (id, t) =>
      val emb = streamEmb.mkString("[", ",", "]")
      s"""{"doc_id":$id,"text":${mapper.writeValueAsString(t)},"lang":"en","source":"web","embedding":$emb}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(inDir, "docs.jsonl"),
      json.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))

    val fpStore = graft.Tables.load(spark, sf0001, "documents")
      .select(md5(col("text").cast("binary")).as("fingerprint"))
    val embStore = graft.Tables.load(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val cent = StreamingCuration.trainFromStore(embStore)
    val q = StreamingCuration.run(spark,
      graft.io.Io.jsonFileStream(spark, inDir, StreamingCuration.wire),
      fpStore, embStore, cent, url, "curated_admissions", dir.resolve("ckpt").toString)
    q.awaitTermination()

    val got = spark.read.jdbc(url, "curated_admissions", new java.util.Properties())
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(got == (0 until 10).map(21000L + _),
      s"exactly the 10 perturbed gate-passers admitted once each, all verbatim dups rejected: $got")
  }
}
