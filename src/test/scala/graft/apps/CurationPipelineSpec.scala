package graft.apps

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** End-to-end gate for the materialized curation job: stage outputs exist
  * and compose, the canonical-cull step leaves at most one member of any
  * near-dup cluster, and therefore the q62 leakage audit over the curated
  * corpus is structurally empty. */
class CurationPipelineSpec extends SparkSuite {

  test("curation pipeline: stages land, clusters collapse to one survivor, leakage is zero") {
    val outRoot = tempDir("graft-curation")
    val (curated, gated, total) = CurationPipeline.run(spark, sf001, outRoot)
    assert(total > 0 && gated <= total && curated <= gated && curated > 0,
      s"monotone stage counts: $total -> $gated -> $curated")

    val curatedDf = spark.read.parquet(s"$outRoot/curated")
    assert(curatedDf.count() == curated)
    // lang partitioning survived the round-trip (partition pruning surface)
    assert(curatedDf.select("lang").distinct().count() > 1)

    // at most ONE member of any near-dup cluster survives
    val labels = graft.operators.CurationStages.nearDupLabels(spark, outRoot)
    val survivorsPerCluster = curatedDf.join(labels, "doc_id")
      .groupBy("cluster_id").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).count()
    assert(survivorsPerCluster == 0,
      s"$survivorsPerCluster clusters kept more than one member")

    // ⇒ split leakage over the curated corpus is structurally zero: a
    // leaking cluster needs >=2 members in different splits, and none has 2
    val leakage = labels.join(curatedDf.select("doc_id"), "doc_id")
      .withColumn("h", substring(md5(col("doc_id").cast("string").cast("binary")), 1, 4))
      .withColumn("split",
        when(col("h") < "1999", "val").when(col("h") < "3333", "test").otherwise("train"))
      .groupBy("cluster_id")
      .agg(countDistinct(col("split")).as("n_splits"))
      .filter(col("n_splits") > 1)
    assert(leakage.isEmpty, "curated corpus must have zero split leakage")

    // dataset card and splits landed with the expected shapes
    val card = spark.read.parquet(s"$outRoot/dataset_card")
    assert(card.columns.toSet ==
      Set("source", "docs", "eff_docs_q", "total_tokens", "eff_tokens_q"))
    assert(card.count() > 0)
    val splits = spark.read.parquet(s"$outRoot/splits")
    assert(splits.columns.toSet == Set("lang", "split", "docs", "chars"))
    import spark.implicits._
    val splitDocs = splits.agg(sum(col("docs"))).as[Long].head()
    assert(splitDocs == curated, s"split counts must cover the curated corpus: $splitDocs != $curated")
  }
}
