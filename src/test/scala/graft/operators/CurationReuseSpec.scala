package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.DataFrame

/** Gates the write-once/read-many label pipeline ([[CurationStages]]):
  * every consumer fed the materialized parquet stages must equal its
  * self-contained recompute form row-for-row, and the reuse plans must scan
  * the written tables instead of re-deriving the LSH/CC stages. */
class CurationReuseSpec extends SparkSuite {

  private def same(reuse: DataFrame, recompute: DataFrame, what: String): Unit =
    assert(reuse.exceptAll(recompute).isEmpty && recompute.exceptAll(reuse).isEmpty,
      s"$what: materialized-label form must equal the recompute form")

  test("materialized curation stages: five consumers reuse the written labels, results unchanged") {
    val root = tempDir("graft-stages")
    CurationStages.materialize(spark, sf001, root)
    val labels = CurationStages.nearDupLabels(spark, root)
    val pairs = CurationStages.nearDupPairs(spark, root)
    val embLabels = CurationStages.embeddingLabels(spark, root)

    // the label stage itself: written labels == a direct clustering run
    same(labels, Dedup.nearDupClusters(spark, sf001), "neardup_labels stage")

    same(Dedup.canonicalPerCluster(spark, sf001, Some(labels)),
      Dedup.canonicalPerCluster(spark, sf001), "q78 canonicalPerCluster")
    same(Dedup.dedupWeightedStats(spark, sf001, Some(labels)),
      Dedup.dedupWeightedStats(spark, sf001), "q93 dedupWeightedStats")
    same(TextOps.splitLeakage(spark, sf001, Some(labels)),
      TextOps.splitLeakage(spark, sf001), "q62 splitLeakage")
    same(Similarity.hardNegatives(spark, sf001, Some(embLabels)),
      Similarity.hardNegatives(spark, sf001), "q72 hardNegatives")
    same(Dedup.pagerankNearDup(spark, sf001, pairTable = Some(pairs)),
      Dedup.pagerankNearDup(spark, sf001), "q84 pagerankNearDup")

    // provenance: the reuse plan reads the written label table and touches
    // the documents corpus exactly once (for n_chars) — no second banding
    // pass hiding anywhere
    val plan = Dedup.canonicalPerCluster(spark, sf001, Some(labels))
      .queryExecution.executedPlan.toString
    assert(plan.contains(CurationStages.NearDupLabels),
      s"reuse plan must scan the materialized labels:\n$plan")
    val docScans = "documents\\.parquet".r.findAllIn(plan).size
    assert(docScans == 1,
      s"reuse plan must scan the corpus exactly once, found $docScans:\n$plan")
  }
}
