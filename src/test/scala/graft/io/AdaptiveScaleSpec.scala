package graft.io

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Runtime-scale machinery proofs: the two Spark mechanisms that, alongside
  * the manual salting pattern (q31/q53), carry skew and pruning at 100 TB —
  * AQE's skew-join split (OptimizeSkewedJoin) and dynamic partition pruning.
  * Both replan at RUNTIME, so the assertions read the executed plan after an
  * action, not the static one.
  */
class AdaptiveScaleSpec extends SparkSuite {

  private def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("AQE splits a skewed join partition (skew=true in the executed plan)") {
    import spark.implicits._
    // one pathological key: 200k rows of key 0 vs 100 rows spread over keys
    // 1..100 — the power-law shape that melts a naive shuffle join
    val skewed = spark.range(0, 200100)
      .select(when(col("id") < 200000, 0L).otherwise(col("id") % 100 + 1).as("k"),
        concat(lit("payload-"), col("id")).as(("v")))
    val small = spark.range(0, 101).select(col("id").as("k"), lit("dim").as("d"))
    withConf(
      // force a shuffle join and make the thresholds small enough that the
      // hot partition counts as skewed at test size
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "16KB") {
      val joined = skewed.join(small, "k")
      // collect() drives THIS DataFrame's queryExecution (count() would build
      // a separate one and leave this plan isFinalPlan=false)
      assert(joined.collect().length == 200100)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), plan)
      assert(plan.contains("skew=true"),
        s"AQE should have split the hot partition (no skew=true):\n$plan")
    }
  }

  test("q53 crossover: unsalted join under AQE skew split equals the salted join, and splits") {
    import spark.implicits._
    // the saltedJoin (q53) pattern on a synthetic hot key, next to the SAME
    // join unsalted under a tuned AQE skew split: identical results, and the
    // executed plan shows the hot partition split. This is the documented
    // crossover — on Spark 4, when the join's output feeds nothing that
    // needs the salted co-partitioning, AQE's runtime split replaces manual
    // salting (Relational.saltedJoin scaladoc); salting stays necessary when
    // thresholds can't be tuned per-query or a downstream op consumes the
    // join's partitioning.
    val salts = 8
    val big = spark.range(0, 150000)
      .select(when(col("id") < 100000, 0L).otherwise(col("id") % 50 + 1).as("k"),
        col("id").as("v"))
    val dim = spark.range(0, 51).select(col("id").as("dk"),
      concat(lit("p"), col("id")).as("payload"))
    // collect the JOIN frame itself and aggregate driver-side: the plan
    // assertion reads THAT frame's executed plan (any operator stacked on
    // top — even a select — builds a separate query execution and can
    // suppress or hide the split)
    def agg(j: org.apache.spark.sql.DataFrame): Map[String, (Long, Long)] =
      j.collect().toSeq
        .map(r => (r.getAs[String]("payload"), r.getAs[Long]("v")))
        .groupBy(_._1).view.mapValues(vs => (vs.length.toLong, vs.map(_._2).sum)).toMap
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "16KB") {
      // manual salting, exactly the q53 shape: deterministic probe salt,
      // build side replicated across all salts
      val l = big.withColumn("salt", pmod(xxhash64(col("v")), lit(salts.toLong)))
      val d = dim.withColumn("salt",
        explode(array((0 until salts).map(i => lit(i.toLong)): _*)))
      val salted = agg(l.join(d, col("k") === col("dk") && l("salt") === d("salt")))
      val uFrame = big.join(dim, col("k") === col("dk"))
      val unsalted = agg(uFrame)
      assert(salted == unsalted, "AQE-split unsalted join must equal the salted join")
      val plan = uFrame.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"the unsalted comparison is only fair if the split actually fired:\n$plan")
    }
  }

  test("runtime bloom filter prunes the big side of a selective shuffle join") {
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // shrink the production thresholds (10MB creation side / big scan side)
      // so the injection triggers at test data sizes
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10GB",
      "spark.sql.optimizer.runtimeFilter.number.threshold" -> "10",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0") {
      val lineitem = graft.Tables.load(spark, sf001, "lineitem")
      val orders = graft.Tables.load(spark, sf001, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("bloom_filter") || plan.contains("BloomFilter"),
        s"selective orders filter should inject a bloom filter on the lineitem scan:\n$plan")
    }
  }

  test("dynamic partition pruning: dim filter prunes fact partitions at runtime") {
    val dir = tempDir("dpp")
    val fact = graft.Tables.load(spark, sf001, "orders")
      .withColumn("dt", date_format(col("o_orderdate"), "yyyy-MM"))
    Io.writePartitioned(fact, s"$dir/fact", Seq("dt"))
    val factP = spark.read.parquet(s"$dir/fact")
    val dim = factP.select("dt").distinct().limit(2)
      .withColumn("flag", lit("keep"))
    Io.writePartitioned(dim, s"$dir/dim", Seq())
    val dimP = spark.read.parquet(s"$dir/dim")

    val joined = factP.join(dimP.filter(col("flag") === "keep"), "dt")
    val rows = joined.count()
    assert(rows > 0)
    val formatted = joined.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(formatted.contains("dynamicpruning"),
      s"fact scan should carry a dynamicpruning partition filter:\n$formatted")
  }
}
