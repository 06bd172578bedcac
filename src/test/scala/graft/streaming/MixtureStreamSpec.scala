package graft.streaming

import graft.SparkSuite
import graft.operators.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming mixture-decision maintenance (MixtureStream): the q182
  * water-filling inputs (avail = per-source token sum, weight = per-source
  * distinct-shingle count) and the q181 coverage sets are maintained
  * across micro-batches, and the decisions read back through the SAME
  * batch walks — 3-batch maintain must equal batch recompute exactly. */
class MixtureStreamSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(tag: String): String =
    tempDir(s"graft-mix-$tag")

  private def batches: Seq[DataFrame] =
    (0 to 2).map(i => graft.Tables.load(spark, sf001, "documents")
      .filter(col("doc_id") % 3 === i)
      .select("source", "text"))

  private type ARow = (String, Long, Long, Long, Boolean, Long)
  private type SRow = (Int, String, Long, Long)
  private type ORow = (String, String, Long, Long, Long, Long, Long)
  private type KRow = (String, String, Long, Long, Long, Long)
  private type BRow = (String, Long, Long, Long, Long, Long, Boolean)
  private type CRow = (String, Long, Long, Long, Long, Long, Long, Long, Long)
  private type PRow = (Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)
  private type XRow = (String, Long, Long, Long, Long, Option[Long])
  private type FRow = (String, Long, Long, Double, Int, Double, Boolean)
  private type MRow = (String, Long, Double, Double, Double, Double, Option[Double], Boolean)
  private type NRow = (String, Int, Long, Long, Long, Long, Long, Long)
  private type VcRow = (Long, Long, Long, Long, Long, Long)
  private type DRow = (String, Long, Long, Long, Long, Double)
  private type PmiRow = (String, Long, Long, Long, Long, Double)

  test("3-batch maintenance: q182 allocation and q181 selection equal the batch operators exactly") {
    val (av, sh) = (tmp("avail"), tmp("shingle"))
    batches.zipWithIndex.foreach { case (b, i) =>
      MixtureStream.applyBatch(spark, b, av, sh, epoch = i.toLong)
    }
    // the maintained sufficient statistics equal the batch aggregations
    val wantAvail = graft.Tables.load(spark, sf001, "documents")
      .groupBy("source")
      .agg(sum(size(graft.functions.TextFns.tokensCol(col("text"))).cast("long")).as("a"))
      .as[(String, Long)].collect().toMap
    val gotAvail = graft.io.Io.readDim(spark, av).select("source", "avail")
      .as[(String, Long)].collect().toMap
    assert(gotAvail == wantAvail, "maintained avail must equal the batch token sums")
    // decisions replay identically through the shared walks
    assert(MixtureStream.readBudget(spark, av, sh).as[ARow].collect().toSet ==
      TextOps.budgetAllocate(spark, sf001).as[ARow].collect().toSet,
      "maintained q182 allocation must equal the batch operator exactly")
    assert(MixtureStream.readSelect(spark, sh).as[SRow].collect().toSet ==
      TextOps.sourceSelect(spark, sf001).as[SRow].collect().toSet,
      "maintained q181 selection must equal the batch operator exactly")
    // the same cells feed the q187 overlap matrix
    assert(MixtureStream.readOverlap(spark, sh).as[ORow].collect().toSet ==
      graft.operators.Dedup.sourceOverlap(spark, sf001).as[ORow].collect().toSet,
      "maintained q187 overlap matrix must equal the batch operator exactly")
  }

  test("3-batch maintenance: q194 KS matrix and q195 ablation equal the batch operators exactly") {
    val (st, sh, hi) = (tmp("stats"), tmp("shingle2"), tmp("hist"))
    val av2 = tmp("avail2")
    batches.zipWithIndex.foreach { case (b, i) =>
      MixtureStream.applyBatch(spark, b, av2, sh, epoch = i.toLong)
      MixtureStream.applyAblationBatch(spark, b, st, epoch = i.toLong)
      MixtureStream.applyKsBatch(spark, b, hi, epoch = i.toLong)
    }
    assert(MixtureStream.readKs(spark, hi).as[KRow].collect().toSet ==
      TextOps.ksMatrix(spark, sf001).as[KRow].collect().toSet,
      "maintained q194 KS matrix must equal the batch operator exactly")
    assert(MixtureStream.readAblation(spark, st, sh).as[BRow].collect().toSet ==
      TextOps.sourceAblation(spark, sf001).as[BRow].collect().toSet,
      "maintained q195 ablation report must equal the batch operator exactly")
  }

  test("3-batch maintenance: q191 Chao1 estimate equals the batch operator exactly (incl. hapax->dis transitions)") {
    val term = tmp("terms")
    val bs = batches
    bs.zipWithIndex.foreach { case (b, i) =>
      MixtureStream.applyChao1Batch(spark, b, term, epoch = i.toLong)
    }
    assert(MixtureStream.readChao1(spark, term).as[CRow].collect().toSet ==
      TextOps.chao1Vocab(spark, sf001).as[CRow].collect().toSet,
      "maintained q191 estimate must equal the batch operator exactly")
    // the SAME maintained cells (summed over sources) feed the q198
    // vocabulary-coverage curve — one store, two decision reports
    assert(MixtureStream.readVocabCoverage(spark, term).as[VcRow].collect().toSet ==
      TextOps.vocabCoverage(spark, sf001).as[VcRow].collect().toSet,
      "maintained q198 coverage curve must equal the batch operator exactly")
    // the count-table store is the right sufficient statistic PRECISELY
    // because hapax/dis counts are not additive: pin that the fixture
    // exercises the regime (a store where every ct stayed 1 would let a
    // frozen-n1 store pass this test by luck) — some term must sit at
    // ct >= 2 AFTER the merge while appearing at most once per batch
    val perBatchMax = bs.map(_.select(col("source"),
        explode(graft.functions.TextFns.gramCountsUdf(3)(col("text"))))
      .groupBy("source", "key").agg(sum(col("value").cast("long")).as("c")))
      .reduce(_ unionByName _)
      .groupBy(col("source"), col("key").as("term")).agg(max(col("c")).as("mx"))
    val crossGrown = graft.io.Io.readDim(spark, term)
      .select("source", "term", "ct")
      .join(perBatchMax, Seq("source", "term"))
      .filter(col("ct") > col("mx")).count()
    assert(crossGrown > 0,
      "fixture must contain terms whose total only exceeds 1x-batch counts across batches")
    // replay no-op
    val before = graft.io.Io.readDim(spark, term)
      .select("source", "term", "ct").as[(String, String, Long)].collect().toSet
    MixtureStream.applyChao1Batch(spark, bs.last, term, epoch = 2L)
    assert(graft.io.Io.readDim(spark, term)
      .select("source", "term", "ct").as[(String, String, Long)].collect().toSet == before,
      "replayed epoch must not double-count the term cells")
  }

  test("3-batch maintenance: q192 packing table equals the batch operator exactly") {
    val lenStore = tmp("lens")
    val bs = batches
    bs.zipWithIndex.foreach { case (b, i) =>
      MixtureStream.applyPackingBatch(spark, b, lenStore, epoch = i.toLong)
    }
    assert(MixtureStream.readPacking(spark, lenStore).as[PRow].collect().toSet ==
      TextOps.packingPlan(spark, sf001).as[PRow].collect().toSet,
      "maintained q192 capacity table must equal the batch operator exactly")
    // replay no-op on the histogram cells
    val before = graft.io.Io.readDim(spark, lenStore)
      .select("len", "n").as[(Long, Long)].collect().toSet
    MixtureStream.applyPackingBatch(spark, bs.last, lenStore, epoch = 2L)
    assert(graft.io.Io.readDim(spark, lenStore)
      .select("len", "n").as[(Long, Long)].collect().toSet == before,
      "replayed epoch must not double-count the length cells")
  }

  test("3-batch maintenance: q189 kappa and q186 novelty curve equal the batch operators exactly") {
    val (conf, ntok, ncell) = (tmp("kappa"), tmp("ntok"), tmp("ncell"))
    val bs = (0 to 2).map(i => graft.Tables.load(spark, sf001, "documents")
      .filter(col("doc_id") % 3 === i)
      .select("source", "doc_id", "text"))
    bs.zipWithIndex.foreach { case (b, i) =>
      MixtureStream.applyKappaBatch(spark, b, conf, epoch = i.toLong)
      MixtureStream.applyNoveltyBatch(spark, b, ntok, ncell, epoch = i.toLong)
    }
    assert(MixtureStream.readKappa(spark, conf).as[XRow].collect().toSet ==
      TextOps.filterKappa(spark, sf001).as[XRow].collect().toSet,
      "maintained q189 agreement report must equal the batch operator exactly")
    assert(MixtureStream.readNovelty(spark, ntok, ncell).as[NRow].collect().toSet ==
      TextOps.noveltyCurve(spark, sf001).as[NRow].collect().toSet,
      "maintained q186 novelty curve must equal the batch operator exactly")
    // replay no-ops on all three stores
    def confSnap = graft.io.Io.readDim(spark, conf)
      .select("source", "n11", "n10", "n01", "n00")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    def tokSnap = graft.io.Io.readDim(spark, ntok)
      .select("source", "slice", "slice_tokens")
      .as[(String, Int, Long)].collect().toSet
    def cellSnap = graft.io.Io.readDim(spark, ncell)
      .select("source", "slice", "sh")
      .as[(String, Int, String)].collect().toSet
    val (c0, t0, s0) = (confSnap, tokSnap, cellSnap)
    MixtureStream.applyKappaBatch(spark, bs.last, conf, epoch = 2L)
    MixtureStream.applyNoveltyBatch(spark, bs.last, ntok, ncell, epoch = 2L)
    assert(confSnap == c0 && tokSnap == t0 && cellSnap == s0,
      "replayed epoch must not change any of the q189/q186 stores")
  }

  test("3-batch maintenance: q201 BH FDR report equals the batch operator exactly; replay is a no-op") {
    val store = tmp("bh")
    val bs = (0 to 2).map(i => graft.Tables.load(spark, sf001, "documents")
      .filter(col("doc_id") % 3 === i)
      .select("source", "n_chars"))
    bs.zipWithIndex.foreach { case (b, i) =>
      MixtureStream.applyBhBatch(spark, b, store, epoch = i.toLong)
    }
    assert(MixtureStream.readBhFdr(spark, store).as[FRow].collect().toSet ==
      TextOps.bhFdr(spark, sf001).as[FRow].collect().toSet,
      "maintained q201 FDR report must equal the batch operator exactly")
    // the q202 power table rides the SAME store — one store, two reports
    assert(MixtureStream.readPowerMde(spark, store).as[MRow].collect().toSet ==
      TextOps.powerMde(spark, sf001).as[MRow].collect().toSet,
      "maintained q202 power/MDE table must equal the batch operator exactly")
    val before = graft.io.Io.readDim(spark, store)
      .select("source", "n", "passes").as[(String, Long, Long)].collect().toSet
    MixtureStream.applyBhBatch(spark, bs.last, store, epoch = 2L)
    assert(graft.io.Io.readDim(spark, store)
      .select("source", "n", "passes")
      .as[(String, Long, Long)].collect().toSet == before,
      "replayed epoch must not double-count the pass cells")
  }

  test("q194/q195 stores: full replay of the last epoch is a no-op") {
    val (st, hi) = (tmp("stats-r"), tmp("hist-r"))
    val bs = batches
    bs.zipWithIndex.foreach { case (b, i) =>
      MixtureStream.applyAblationBatch(spark, b, st, epoch = i.toLong)
      MixtureStream.applyKsBatch(spark, b, hi, epoch = i.toLong)
    }
    val beforeSt = graft.io.Io.readDim(spark, st)
      .select("source", "n_docs", "tokens", "s")
      .as[(String, Long, Long, Long)].collect().toSet
    val beforeHi = graft.io.Io.readDim(spark, hi)
      .select("source", "score", "ct").as[(String, Long, Long)].collect().toSet
    MixtureStream.applyAblationBatch(spark, bs.last, st, epoch = 2L)
    MixtureStream.applyKsBatch(spark, bs.last, hi, epoch = 2L)
    assert(graft.io.Io.readDim(spark, st)
      .select("source", "n_docs", "tokens", "s")
      .as[(String, Long, Long, Long)].collect().toSet == beforeSt,
      "replayed epoch must not double-add the q195 scalar stats")
    assert(graft.io.Io.readDim(spark, hi)
      .select("source", "score", "ct")
      .as[(String, Long, Long)].collect().toSet == beforeHi,
      "replayed epoch must not double-count the q194 histogram cells")
  }

  test("full replay of the last epoch is a no-op on both stores") {
    val (av, sh) = (tmp("avail-r"), tmp("shingle-r"))
    val bs = batches
    bs.zipWithIndex.foreach { case (b, i) =>
      MixtureStream.applyBatch(spark, b, av, sh, epoch = i.toLong)
    }
    val beforeA = graft.io.Io.readDim(spark, av)
      .select("source", "avail").as[(String, Long)].collect().toSet
    val beforeS = graft.io.Io.readDim(spark, sh)
      .select("source", "term").as[(String, String)].collect().toSet
    MixtureStream.applyBatch(spark, bs.last, av, sh, epoch = 2L)
    assert(graft.io.Io.readDim(spark, av)
      .select("source", "avail").as[(String, Long)].collect().toSet == beforeA,
      "replayed epoch must not double-add avail")
    assert(graft.io.Io.readDim(spark, sh)
      .select("source", "term").as[(String, String)].collect().toSet == beforeS,
      "replayed epoch must not change the shingle cell set")
  }

  test("partial commit: avail half-landed and shingle cells missed entirely -> replay fills only the gaps, once") {
    val (avA, shA) = (tmp("avail-pa"), tmp("shingle-pa"))
    val (avB, shB) = (tmp("avail-pb"), tmp("shingle-pb"))
    val bs = batches
    // reference: both epochs applied cleanly
    MixtureStream.applyBatch(spark, bs(0), avA, shA, epoch = 0L)
    MixtureStream.applyBatch(spark, bs(1), avA, shA, epoch = 1L)
    // crash sim: epoch 1 committed the avail rows of HALF the sources and
    // none of the shingle cells (the writes are ordered avail-then-cells)
    MixtureStream.applyBatch(spark, bs(0), avB, shB, epoch = 0L)
    val d1 = bs(1).groupBy("source")
      .agg(sum(size(graft.functions.TextFns.tokensCol(col("text"))).cast("long")).as("__da"))
    val partial = d1.filter(abs(hash(col("source"))) % 2 === 0)
      .join(graft.io.Io.readDim(spark, avB)
        .select(col("source"), col("avail").as("__pa")), Seq("source"), "left")
      .select(col("source"),
        (col("__da") + coalesce(col("__pa"), lit(0L))).as("avail"),
        lit(1L).as("last_epoch"))
    graft.io.Io.upsertDim(spark, partial, avB, "source", "last_epoch")
    // checkpoint replay of epoch 1: committed sources skip (epoch gate),
    // missed sources and all cells fill exactly once
    MixtureStream.applyBatch(spark, bs(1), avB, shB, epoch = 1L)
    def readAvail(p: String) = graft.io.Io.readDim(spark, p)
      .select("source", "avail").as[(String, Long)].collect().toSet
    def readCells(p: String) = graft.io.Io.readDim(spark, p)
      .select("source", "term").as[(String, String)].collect().toSet
    assert(readAvail(avB) == readAvail(avA), "avail must converge to the clean run")
    assert(readCells(shB) == readCells(shA), "cells must converge to the clean run")
  }

  test("3-batch maintenance: q206 PMI collocations equal the batch operator exactly; replay no-op") {
    val pmi = tmp("pmi")
    val bs = batches.map(_.select("text"))
    bs.zipWithIndex.foreach { case (b, i) =>
      MixtureStream.applyPmiBatch(spark, b, pmi, epoch = i.toLong)
    }
    assert(MixtureStream.readPmi(spark, pmi).as[PmiRow].collect().toSet ==
      TextOps.pmiCollocations(spark, sf001).as[PmiRow].collect().toSet,
      "maintained q206 collocations must equal the batch operator exactly")
    // replay no-op on the tagged count cells
    val before = graft.io.Io.readDim(spark, pmi)
      .select("tag", "g", "c").as[(String, String, Long)].collect().toSet
    MixtureStream.applyPmiBatch(spark, bs.last, pmi, epoch = 2L)
    assert(graft.io.Io.readDim(spark, pmi)
      .select("tag", "g", "c").as[(String, String, Long)].collect().toSet == before,
      "replayed epoch must not double-count the tagged cells")
  }

  test("3-batch maintenance: q203 DoReMi weights equal the batch operator exactly; replay no-op") {
    val tok = tmp("doremi")
    val bs = batches
    bs.zipWithIndex.foreach { case (b, i) =>
      MixtureStream.applyDoremiBatch(spark, b, tok, epoch = i.toLong)
    }
    assert(MixtureStream.readDoremi(spark, tok).as[DRow].collect().toSet ==
      TextOps.doremiWeights(spark, sf001).as[DRow].collect().toSet,
      "maintained q203 weights must equal the batch operator exactly")
    // replay no-op on the token cells
    val before = graft.io.Io.readDim(spark, tok)
      .select("source", "tok", "ct").as[(String, String, Long)].collect().toSet
    MixtureStream.applyDoremiBatch(spark, bs.last, tok, epoch = 2L)
    assert(graft.io.Io.readDim(spark, tok)
      .select("source", "tok", "ct").as[(String, String, Long)].collect().toSet == before,
      "replayed epoch must not double-count the token cells")
  }
}
