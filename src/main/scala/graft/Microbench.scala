package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.{Aggregators, VectorFns}
import graft.plans.VectorExpressions

/** Dev tool: measure the custom kernels against their composable baselines on
  * sf0.1 — the numbers backing the "custom Expression beats HOF beats UDF"
  * claims. Results are appended manually to PLANS.md. */
object Microbench {
  def time(label: String, reps: Int = 3)(f: => Long): Unit = {
    f // warmup
    val times = (1 to reps).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    println(f"MICRO $label%-46s median ${times.sorted.apply(reps / 2)}%.3f s")
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    VectorExpressions.register(spark)
    val dir = "/root/testdata/sf0.1"
    val e = Tables.load(spark, dir, "embeddings")
    val a = e.select(col("vec_id").as("va"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("vb"), col("embedding").as("eb"))
    val pairs = a.join(b, col("va") < col("vb")) // ~2M pairs at sf0.1

    time("pairwise dot: zip_with+aggregate (interpreted HOF)") {
      pairs.select(VectorFns.dotCol(col("ea"), col("eb")).as("d"))
        .agg(count(when(col("d") > 0, 1))).head().getLong(0)
    }
    time("pairwise dot: dot_f custom expression (codegen)") {
      pairs.select(VectorFns.dotFastCol(col("ea"), col("eb")).as("d"))
        .agg(count(when(col("d") > 0, 1))).head().getLong(0)
    }

    val ev = Tables.load(spark, dir, "events")
    time("distinct users: count(distinct) built-in") {
      ev.groupBy("event_type").agg(countDistinct(col("user_id"))).count()
    }
    time("distinct users: typed HashSet Aggregator") {
      ev.groupBy("event_type").agg(Aggregators.exactDistinct(col("user_id"))).count()
    }
    // ADVICE (round 1): the Kryo HashSet buffer round-trips on every partial
    // merge — measure at HIGH per-group cardinality (group by day: ~5k uniques
    // per group at sf0.1), not just the 5-group event_type split
    val byDay = ev.withColumn("dt", to_date(col("event_time")))
    time("distinct users/day (high card): count(distinct)") {
      byDay.groupBy("dt").agg(countDistinct(col("user_id"))).count()
    }
    time("distinct users/day (high card): typed Aggregator") {
      byDay.groupBy("dt").agg(Aggregators.exactDistinct(col("user_id"))).count()
    }

    // hyperplane LSH signature (round-5 md5-sign planes): per-(row,plane,dim)
    // md5 derivation vs the memoized plane matrix (VectorFns.hyperplanePlanes)
    val sigU = VectorFns.hyperplaneSigUdf(16)
    time("hyperplane sig(16 planes): memoized plane matrix") {
      e.select(sigU(col("embedding")).as("s")).agg(sum(col("s"))).head().get(0); 0L
    }
    val inlineSig = udf { (v: Seq[Float]) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      var sig = 0; var p = 0
      while (p < 16) {
        var dot = 0L; var d = 0
        while (d < v.length) {
          md.reset()
          val h = md.digest(s"${p}_${d}".getBytes(java.nio.charset.StandardCharsets.UTF_8))
          dot += math.floor(v(d).toDouble * 1048576.0).toLong * (if ((h(0) & 1) == 1) 1 else -1)
          d += 1
        }
        if (dot >= 0) sig |= (1 << p); p += 1
      }
      sig
    }
    time("hyperplane sig(16 planes): per-row md5 derivation") {
      e.select(inlineSig(col("embedding")).as("s")).agg(sum(col("s"))).head().get(0); 0L
    }

    // n-gram span extraction (q69's kernel finding, round 5): the
    // transform/slice/concat_ws HOF chain is CodegenFallback-interpreted
    val docTexts = Tables.load(spark, dir, "documents")
    time("10-gram spans/doc: shinglesCol HOF chain (interpreted)") {
      docTexts.select(explode(graft.functions.TextFns.shinglesCol(
        graft.functions.TextFns.tokensCol(col("text")), 10)).as("g")).count()
    }
    time("10-gram spans/doc: gramCounts single-pass kernel") {
      docTexts.select(explode(graft.functions.TextFns.gramCountsUdf(10)(col("text"))))
        .count()
    }

    // int8-quantized dot: codegen'd dot_i vs the interpreted HOF chain
    val qe = e.selectExpr("vec_id",
      "transform(embedding, x -> cast(round(x * 100) as int)) as qv")
    val qa = qe.select(col("vec_id").as("va"), col("qv").as("qa"))
    val qb = qe.select(col("vec_id").as("vb"), col("qv").as("qb"))
    val qpairs = qa.join(qb, col("va") < col("vb"))
    time("pairwise int8 dot: zip_with+aggregate (interpreted HOF)") {
      qpairs.selectExpr(
        "aggregate(zip_with(qa, qb, (x, y) -> cast(x as bigint) * y), cast(0 as bigint), (a, v) -> a + v) as d")
        .agg(count(when(col("d") > 0, 1))).head().getLong(0)
    }
    time("pairwise int8 dot: dot_i custom expression (codegen)") {
      qpairs.select(call_function("dot_i", col("qa"), col("qb")).as("d"))
        .agg(count(when(col("d") > 0, 1))).head().getLong(0)
    }

    // connected components at 1M edges (far beyond any LSH candidate set in
    // the fixtures): distributed large-star/small-star vs driver union-find.
    // Deterministic splitmix graph over 400k nodes: ~mix of chains and hubs.
    {
      import spark.implicits._
      val edges1m = spark.range(1000000).select(
        (pmod(expr("xxhash64(id)"), lit(400000L))).as("da"),
        (pmod(expr("xxhash64(id + 1000000)"), lit(400000L))).as("db"))
        .filter(col("da") =!= col("db"))
        .cache()
      edges1m.count()
      time("connected components 1M edges: driver union-find", reps = 1) {
        graft.operators.Dedup.clusters(edges1m).count()
      }
      time("connected components 1M edges: large-star/small-star", reps = 1) {
        graft.operators.Dedup.clusters(edges1m, collectThreshold = 0L).count()
      }
      val a = graft.operators.Dedup.clusters(edges1m)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val b = graft.operators.Dedup.clusters(edges1m, collectThreshold = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      println(s"MICRO cc-1m regimes agree: ${a == b} (${a.size} nodes)")
      edges1m.unpersist()
    }

    import graft.functions.TextFns._
    val docs = Tables.load(spark, dir, "documents")
    time("shingle sets: composed HOF columns") {
      docs.select(array_distinct(shinglesCol(tokensCol(col("text")), 3)).as("s"))
        .agg(sum(size(col("s")))).head().get(0); 0L
    }
    time("shingle sets: single-pass hash kernel UDF") {
      docs.select(shingleHashesUdf(col("text")).as("s"))
        .agg(sum(size(col("s")))).head().get(0); 0L
    }

    // round-7 de-skew crossovers (VERDICT #2/#3): the hot-key window forms
    // vs their bounded replacements at sf0.1 — the numbers behind the
    // switchover notes in TextOps.sourceQuotaTopK / mixtureSample scaladoc
    time("sourceQuota sf0.1: row_number per-source window") {
      graft.operators.TextOps.sourceQuota(spark, dir).count()
    }
    time("sourceQuota sf0.1: topK k-bounded partial agg") {
      graft.operators.TextOps.sourceQuotaTopK(spark, dir).count()
    }
    time("mixtureSample sf0.1: full per-source cumsum window") {
      graft.operators.TextOps.mixtureSampleWindowed(spark, dir).count()
    }
    time("mixtureSample sf0.1: hash-rank pre-filter + sliver window") {
      graft.operators.TextOps.mixtureSample(spark, dir).count()
    }

    // ---- Streaming throughput (round-6 VERDICT #6): MemoryStream-driven
    // rates for the three stateful pipeline shapes. Wall-clock covers the
    // whole micro-batch engine — scheduling, state-store IO, watermark
    // bookkeeping, state eviction — fed in 4 event-time-ascending chunks so
    // watermarks advance and windows/join state actually close and evict,
    // as they would in deployment. rows/s is input rows over that wall.
    {
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import graft.streaming.{OrderDetail, OrderInfo, Pipelines}
      val t0 = 1700000000000L
      def ckpt() = java.nio.file.Files.createTempDirectory("graft-sbench").toString
      def rate(label: String, rows: Long)(run: => Unit): Unit = {
        val s = System.nanoTime(); run
        val sec = (System.nanoTime() - s) / 1e9
        println(f"MICRO stream $label%-40s ${rows / 1000}%dk rows in $sec%.2f s = ${rows / sec / 1000}%.0fk rows/s")
      }

      // visitorStats: 200k deltas, 100 keys × ~100 10s-windows (A23 shape)
      val vsMs = MemoryStream[Long]
      val vsDeltas = vsMs.toDS().toDF("i").select(
        concat(lit("ar"), pmod(col("i"), lit(10))).as("ar"),
        concat(lit("ch"), pmod(col("i"), lit(5))).as("ch"),
        lit("v1").as("vc"), pmod(col("i"), lit(2)).cast("string").as("is_new"),
        lit(1L).as("pv_ct"), lit(1L).as("sv_ct"), lit(0L).as("uv_ct"),
        lit(0L).as("uj_ct"), pmod(col("i"), lit(100)).cast("long").as("dur_sum"),
        timestamp_millis(lit(t0) + col("i") * 5).as("event_time"))
      val vsQ = Pipelines.visitorStats(vsDeltas).writeStream.format("noop")
        .option("checkpointLocation", ckpt()).outputMode("append").start()
      rate("visitorStats windowed agg", 200000L) {
        (0 until 4).foreach { c =>
          vsMs.addData((c * 50000L) until ((c + 1) * 50000L): _*)
          vsQ.processAllAvailable()
        }
      }
      vsQ.stop()

      // orderWide: 50k orders ⋈ 100k details, ±5ms interval join (A19 shape)
      // — the state-heaviest pipeline (insert + range probe + eviction per
      // row on BOTH sides), on the default state-store provider.
      // round-7 VERDICT #6 follow-up: watermark-delay sweep.
      // State held = watermark delay × input rate (both sides buffer every
      // in-delay row), so "30 seconds" is 10× the state of "3 seconds" at
      // the same input. lastProgress.stateOperators is the cleanup proof:
      // rows held at end must track the DELAY, not the input size.
      def orderWideRate(label: String, wmDelay: String = "3 seconds"): Unit = {
        val oiMs = MemoryStream[OrderInfo]
        val odMs = MemoryStream[OrderDetail]
        val owQ = Pipelines.orderWide(oiMs.toDS(), odMs.toDS(), wmDelay = wmDelay)
          .writeStream
          .format("noop").option("checkpointLocation", ckpt())
          .outputMode("append").start()
        rate(s"orderWide interval join [$label]", 150000L) {
          (0 until 4).foreach { c =>
            val ids = (c * 12500L) until ((c + 1) * 12500L)
            oiMs.addData(ids.map(i =>
              OrderInfo(i, i % 1000, i % 34, BigDecimal(i % 500), t0 + i * 20)))
            odMs.addData(ids.flatMap(i => Seq(
              OrderDetail(2 * i, i, i % 200, BigDecimal(3), 1, BigDecimal(3), t0 + i * 20),
              OrderDetail(2 * i + 1, i, i % 201, BigDecimal(4), 1, BigDecimal(4), t0 + i * 20 + 2))))
            owQ.processAllAvailable()
          }
        }
        val stateRows = Option(owQ.lastProgress).toSeq
          .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal).sum
        println(s"MICRO stream orderWide [$label] state rows at end: $stateRows" +
          s" (input 150000; eviction ${if (stateRows < 150000) "WORKS" else "BROKEN"})")
        owQ.stop()
      }
      orderWideRate("wm 3s")
      orderWideRate("10x state (wm 30s)", "30 seconds")

      // streamingIngest: 100k docs, 30% in-stream dups, 20k-fingerprint
      // store (A17/ingest-dedup shape: anti-join + dropDuplicates state)
      val store = spark.range(20000)
        .select(md5(concat(lit("doc "), col("id")).cast("binary")).as("fingerprint"))
      val inMs = MemoryStream[Long]
      val newDocs = inMs.toDS().toDF("i")
        .select(col("i").as("doc_id"), concat(lit("doc "), pmod(col("i"), lit(70000))).as("text"))
      val inQ = graft.operators.Dedup.streamingIngest(newDocs, store).writeStream
        .format("noop").option("checkpointLocation", ckpt())
        .outputMode("append").start()
      rate("streamingIngest dedup admission", 100000L) {
        (0 until 4).foreach { c =>
          inMs.addData((c * 25000L) until ((c + 1) * 25000L): _*)
          inQ.processAllAvailable()
        }
      }
      inQ.stop()

      // streaming curation twin (round-7 VERDICT #5): quality gate + exact
      // admission + semantic admission COMPOSED — 100k docs (30% exact
      // dups), 20k-fp store, 1k-vector embedding store, k=16 quantizer.
      // Upper bound on per-row work vs streamingIngest alone: tokenize +
      // classifier + fp state + two stream-static anti-joins per row.
      val curFpStore = spark.range(20000)
        .select(md5(concat(lit("doc body "), col("id")).cast("binary")).as("fingerprint"))
      val curEmbStore = spark.range(1000).selectExpr("id as vec_id",
        "transform(sequence(1, 64), d -> cast(pmod(xxhash64(id, d), 100) / 100.0 as float)) as embedding")
      val curCent = graft.apps.StreamingCuration.trainFromStore(curEmbStore)
      val curMs = MemoryStream[Long]
      val curDocs = curMs.toDS().toDF("i").selectExpr(
        "i as doc_id",
        "concat('spark table window join agg scan shuffle partition document body ', pmod(i, 70000)) as text",
        "'en' as lang", "'web' as source",
        "transform(sequence(1, 64), d -> cast(pmod(xxhash64(i, d), 100) / 100.0 as float)) as embedding")
      val curQ = graft.apps.StreamingCuration
        .admit(curDocs, curFpStore, curEmbStore, curCent)
        .writeStream.format("noop").option("checkpointLocation", ckpt())
        .outputMode("append").start()
      rate("streaming curation (gate+exact+semantic)", 100000L) {
        (0 until 4).foreach { c =>
          curMs.addData((c * 25000L) until ((c + 1) * 25000L): _*)
          curQ.processAllAvailable()
        }
      }
      curQ.stop()

      // DSIR importance gate (round-7 cont.): the stateless train-batch/
      // serve-stream stage alone — tokenize kernel + 256-entry integer fold
      // per row, no state, no shuffle. Ratios synthetic (rate is
      // model-independent); parity with the batch operator is spec-gated.
      val hex = "0123456789abcdef"
      val gRatios = (for (x <- hex; y <- hex)
        yield s"$x$y" -> (1048576L + ((x - '0') % 3) - 1)).toMap
      val gMs = MemoryStream[Long]
      val gDocs = gMs.toDS().toDF("i").selectExpr(
        "i as doc_id",
        "concat('spark table window join agg scan shuffle partition document body ', pmod(i, 70000)) as text",
        "'web' as source")
      val gQ = graft.operators.TextOps.dsirGate(gDocs, gRatios)
        .writeStream.format("noop").option("checkpointLocation", ckpt())
        .outputMode("append").start()
      rate("dsir importance gate (stateless)", 100000L) {
        (0 until 4).foreach { c =>
          gMs.addData((c * 25000L) until ((c + 1) * 25000L): _*)
          gQ.processAllAvailable()
        }
      }
      gQ.stop()
    }

    // ---- Salting on a genuinely skewed fixture (round-6 VERDICT #7):
    // power-law keys — HALF of a 40M-row fact lands on ONE key (≈100k× the
    // median key's mass), the rest uniform over 100k keys. The fixtures'
    // q31/q53 prove salting CORRECT; the three cases below measure where it
    // is BENEFICIAL and where it is not (round-6 numbers in PLANS.md):
    //  - join, AQE skew-split off (the documented case where it can't
    //    apply: co-partitioned downstream, or pre-AQE engines): unsalted
    //    sorts 20M hot rows in one task; salted ×8 spreads them (2.2× win).
    //  - join, AQE skew-split on with TUNED thresholds: AQE splits the hot
    //    partition itself, but only once its byte thresholds match the data
    //    — at the defaults the earlier 10M-row (~80 MB) hot partition
    //    sailed under 256 MB unsplit. Salting is threshold-free.
    //  - sum/count agg: map-side partial aggregation collapses the hot key
    //    to one row per map task BEFORE the shuffle, so there is no hot
    //    reducer to fix (both runs sub-second; the q31 two-stage pattern is
    //    for buffer-heavy aggregates whose partial state doesn't collapse —
    //    a collect_set probe at this size showed no difference either,
    //    0.29 s vs 0.30 s, and was dropped from the suite).
    {
      val skewed = spark.range(40000000L).select(
        when(pmod(col("id"), lit(2)) === 0, lit(0L))
          .otherwise(pmod(xxhash64(col("id")), lit(100000L))).as("k"),
        col("id").as("v")).cache()
      skewed.count()
      val dim = spark.range(100000L)
        .select(col("id").as("dk"), concat(lit("p"), col("id")).as("payload")).cache()
      dim.count()
      // force the shuffle join under test: no (adaptive) broadcast
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

      def saltedJoinCount(salts: Int): Long = {
        val l = skewed.withColumn("salt", pmod(xxhash64(col("v")), lit(salts.toLong)))
        val d = dim.withColumn("salt", explode(array((0 until salts).map(i => lit(i.toLong)): _*)))
        l.join(d, col("k") === col("dk") && l("salt") === d("salt")).count()
      }
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      time("skew-join 40M (hot=50%), AQE skew OFF: unsalted") {
        skewed.join(dim, col("k") === col("dk")).count()
      }
      time("skew-join 40M (hot=50%), AQE skew OFF: salted x8") { saltedJoinCount(8) }
      // AQE's skew split only fires above skewedPartitionThresholdInBytes
      // (default 256 MB) — the measured round-6 run showed the 10M-row hot
      // partition (~80 MB) sailing under the DEFAULT thresholds untouched,
      // which is itself the lesson: salting is threshold-free, AQE needs its
      // knobs matched to the data. Tune them down so the ON case is a real
      // comparison, not a silent no-op.
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32m")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
      time("skew-join 40M (hot=50%), AQE skew ON(tuned): unsalted") {
        skewed.join(dim, col("k") === col("dk")).count()
      }
      spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
      spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")

      time("skew-agg 40M sum/count: unsalted (partial agg absorbs)") {
        skewed.groupBy("k").agg(count(lit(1)), sum(col("v"))).count()
      }
      time("skew-agg 40M sum/count: salted x16 two-stage") {
        skewed.withColumn("salt", pmod(col("v"), lit(16)))
          .groupBy("k", "salt").agg(count(lit(1)).as("pc"), sum(col("v")).as("ps"))
          .groupBy("k").agg(sum(col("pc")), sum(col("ps"))).count()
      }
      skewed.unpersist(); dim.unpersist()
    }
    spark.stop()
  }
}
