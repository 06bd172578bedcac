package graft.apps

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkSuite
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

/** Runnable-app layer: end-to-end file-bound jobs through [[Mains.start]],
  * including the D8/D10 recovery contract — stop a streaming app, restart it
  * from its checkpoint, and observe exactly-once output AND keyed-state
  * continuity across the restart.
  */
class MainsSpec extends SparkSuite {

  private val day1 = 1700000000000L // 2023-11-14
  private val day2 = day1 + 86400000L // next day

  private def logLine(mid: String, isNew: String, ts: Long, pageId: String = "home"): String =
    s"""{"common":{"ar":"110000","uid":"u-$mid","ch":"web","is_new":"$isNew","mid":"$mid","vc":"v1"},"page":{"page_id":"$pageId","during_time":30},"ts":$ts}"""

  test("base_log restarts from checkpoint on state API v1: " +
    "exactly-once output + state continuity") {
    val inDir = tempDir("mains-in"); val outDir = tempDir("mains-out"); val ckptDir = tempDir("mains-ckpt")
    val srcDir = new java.io.File(s"$inDir/ods_base_log"); srcDir.mkdirs()

    // ---- run 1: m1's first-ever visit on day1 (is_new=1 is genuine) ----
    Files.write(new java.io.File(srcDir, "batch1.txt").toPath,
      java.util.Arrays.asList(
        logLine("m1", "1", day1),
        logLine("m2", "0", day1 + 1000L)))
    Mains.start(spark, "base_log", inDir, outDir, ckptDir).foreach(_.awaitTermination())

    val pageAfterRun1 = spark.read.json(s"$outDir/dwd_page_log")
    assert(pageAfterRun1.count() == 2)
    assert(pageAfterRun1.filter(col("mid") === "m1").head.getAs[String]("is_new") == "1",
      "day1 first visit keeps its genuine is_new=1")

    // ---- kill + restart: new file, same checkpoints ----
    // m1 claims is_new=1 again on day2 — only the CHECKPOINTED state (first
    // visit day1) can prove the claim stale; a fresh state store would trust it.
    Files.write(new java.io.File(srcDir, "batch2.txt").toPath,
      java.util.Arrays.asList(logLine("m1", "1", day2)))
    Mains.start(spark, "base_log", inDir, outDir, ckptDir).foreach(_.awaitTermination())

    val page = spark.read.json(s"$outDir/dwd_page_log")
    assert(page.count() == 3, s"exactly-once: batch1 rows are NOT reprocessed (${page.count()})")
    val m1ByTs = page.filter(col("mid") === "m1").collect()
      .map(r => r.getAs[Long]("ts") -> r.getAs[String]("is_new")).toMap
    assert(m1ByTs == Map(day1 -> "1", day2 -> "0"),
      s"state survived the restart: day2 claim repaired to 0 (got $m1ByTs)")
  }

  test("kill MID-stream: stop with input still unprocessed, restart finishes exactly-once") {
    val inDir = tempDir("kill-in"); val outDir = tempDir("kill-out"); val ckptDir = tempDir("kill-ckpt")
    val srcDir = new java.io.File(s"$inDir/ods_base_log"); srcDir.mkdirs()
    val n = 12
    (0 until n).foreach { i =>
      Files.write(new java.io.File(srcDir, f"f$i%02d.txt").toPath,
        java.util.Arrays.asList(logLine(s"k$i", "0", day1 + i * 1000L)))
    }
    // one file per micro-batch → the run is a sequence of 12 batches per query;
    // stop() the moment the first batches commit, leaving most files pending
    val qs = Mains.start(spark, "base_log", inDir, outDir, ckptDir,
      sourceOptions = Map("maxFilesPerTrigger" -> "1"))
    try {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!qs.exists(q => Option(q.lastProgress).exists(_.batchId >= 1)) &&
        System.nanoTime() < deadline) Thread.sleep(20)
    } finally qs.foreach(_.stop())
    val partial = spark.read.schema(Mains.Wire.logEvent).json(s"$outDir/dwd_page_log").count()
    assert(partial < n, s"killed mid-stream: only $partial of $n files processed")

    // restart from the same checkpoints: remaining files drain, nothing twice
    Mains.start(spark, "base_log", inDir, outDir, ckptDir).foreach(_.awaitTermination())
    val page = spark.read.json(s"$outDir/dwd_page_log")
    assert(page.count() == n, s"all $n events present after restart")
    assert(page.select("mid").distinct().count() == n, "no event delivered twice")
  }

  test("a second base_log query in the same JVM compiles no generated class again") {
    def drain(tag: String): Long = {
      val inDir = tempDir(s"$tag-in"); val outDir = tempDir(s"$tag-out"); val ckptDir = tempDir(s"$tag-ckpt")
      val srcDir = new java.io.File(s"$inDir/ods_base_log"); srcDir.mkdirs()
      Files.write(new java.io.File(srcDir, "b1.txt").toPath, java.util.Arrays.asList(
        logLine("m1", "1", day1), logLine("m2", "0", day1 + 1000L), logLine("m1", "1", day2)))
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
      val before = compiles.getCount
      Mains.start(spark, "base_log", inDir, outDir, ckptDir).foreach(_.awaitTermination())
      val compiled = compiles.getCount - before
      assert(spark.read.json(s"$outDir/dwd_page_log").count() == 3, s"$tag drained its backlog")
      compiled
    }
    val first = drain("codegen-1")
    val second = drain("codegen-2")
    assert(second == 0, s"the second drain recompiled $second generated classes (the first compiled $first)")
  }

  test("base_log repairs is_new BEFORE the split: start events carry it too") {
    val inDir = tempDir("mains-in"); val outDir = tempDir("mains-out"); val ckptDir = tempDir("mains-ckpt")
    val srcDir = new java.io.File(s"$inDir/ods_base_log"); srcDir.mkdirs()
    val startLine =
      s"""{"common":{"ar":"1","uid":"u","ch":"web","is_new":"1","mid":"m9","vc":"v1"},"start":{"entry":"icon","loading_time":10},"ts":$day2}"""
    Files.write(new java.io.File(srcDir, "b1.txt").toPath,
      java.util.Arrays.asList(logLine("m9", "1", day1), startLine))
    Mains.start(spark, "base_log", inDir, outDir, ckptDir).foreach(_.awaitTermination())
    val start = spark.read.json(s"$outDir/dwd_start_log")
    assert(start.count() == 1)
    assert(start.head.getAs[org.apache.spark.sql.Row]("common").getAs[String]("is_new") == "0",
      "the day2 start event's stale is_new=1 is repaired pre-split (BaseLogApp order)")
  }

  /** An ODS backlog over `files` files: page events of 100 devices over two
    * days (so the is_new repair has work), display and start events, and
    * one unparseable record. */
  private def odsBacklog(srcDir: java.io.File, files: Int = 8): Unit = {
    def common(mid: String, isNew: String) =
      s""""common":{"ar":"1","uid":"u-$mid","ch":"web","is_new":"$isNew","mid":"$mid","vc":"v1"}"""
    (0 until files).foreach { f =>
      val lines = (0 until 40).map { i =>
        val n = f * 40 + i
        val mid = s"d${n % 100}"
        val ts = (if (n < 160) day1 else day2) + n * 1000L
        n % 10 match {
          case 0 => s"""{${common(mid, "1")},"start":{"entry":"icon","loading_time":10},"ts":$ts}"""
          case 1 => s"""{${common(mid, "1")},"page":{"page_id":"home","during_time":5},""" +
            s""""displays":[{"display_type":"promotion","item":"$n","item_type":"sku_id","pos_id":1,"order":1}],"ts":$ts}"""
          case _ => logLine(mid, if (n % 3 == 0) "0" else "1", ts)
        }
      } ++ (if (f == 0) Seq("not json") else Nil)
      Files.write(new java.io.File(srcDir, f"ods$f%02d.txt").toPath, java.util.Arrays.asList(lines: _*))
    }
  }

  private val baseLogTopics = Seq("dwd_dirty_log", "dwd_display_log", "dwd_page_log", "dwd_start_log")

  /** Paths in one batch entry of a topic's file-sink manifest. */
  private def manifestFiles(topicDir: String, batchId: Long): Int =
    Files.readAllLines(java.nio.file.Paths.get(topicDir, "_spark_metadata", batchId.toString))
      .asScala.drop(1).count(_.nonEmpty) // line 1 is the log version

  test("base_log is one query with one state store, at most one file per core per topic batch") {
    val inDir = tempDir("one-in"); val outDir = tempDir("one-out"); val ckptDir = tempDir("one-ckpt")
    val srcDir = new java.io.File(s"$inDir/ods_base_log"); srcDir.mkdirs()
    odsBacklog(srcDir)
    val qs = Mains.start(spark, "base_log", inDir, outDir, ckptDir)
    qs.foreach(_.awaitTermination())
    assert(qs.size == 1, s"one streaming query per app, not one per topic (${qs.size})")
    assert(qs.head.lastProgress.stateOperators.length == 1, "one is_new state store")
    assert(new java.io.File(s"$ckptDir/base_log/commits/0").isFile, "one checkpoint: ckptDir/base_log")
    val cores = spark.sparkContext.defaultParallelism
    baseLogTopics.foreach { t =>
      val n = manifestFiles(s"$outDir/$t", 0)
      assert(n >= 1 && n <= cores, s"$t: $n part files in batch 0 (at most $cores)")
    }
  }

  test("base_log's topics exist from its start, so a downstream app binds before the first batch") {
    val inDir = tempDir("bind-in"); val outDir = tempDir("bind-out"); val ckptDir = tempDir("bind-ckpt")
    new java.io.File(s"$inDir/ods_base_log").mkdirs()
    val qs = Mains.start(spark, "base_log", inDir, outDir, ckptDir,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 hour"))
    try {
      baseLogTopics.foreach(t => assert(new java.io.File(s"$outDir/$t/_spark_metadata").isDirectory, t))
      Mains.start(spark, "unique_visit", outDir, tempDir("bind-uv"), ckptDir).foreach(_.awaitTermination())
    } finally qs.foreach(_.stop())
  }

  test("base_log replays a partially committed fan-out exactly once per topic") {
    val inDir = tempDir("part-in"); val outDir = tempDir("part-out"); val ckptDir = tempDir("part-ckpt")
    val srcDir = new java.io.File(s"$inDir/ods_base_log"); srcDir.mkdirs()
    odsBacklog(srcDir)
    Mains.start(spark, "base_log", inDir, outDir, ckptDir).foreach(_.awaitTermination())
    // a crash after two topics committed batch 0 and before the other two and
    // the query's commit log did: their last manifest entries and the last
    // commits/ entry are gone, the written part files stay on disk
    def dropLast(dir: String): Option[Long] = {
      val last = Option(new java.io.File(dir).list()).toSeq.flatten
        .filter(_.forall(_.isDigit)).map(_.toLong).maxOption
      last.foreach(n => Seq(s"$n", s".$n.crc").foreach(f => Files.deleteIfExists(java.nio.file.Paths.get(dir, f))))
      last
    }
    Seq("dwd_page_log", "dwd_display_log").foreach(t => dropLast(s"$outDir/$t/_spark_metadata"))
    assert(dropLast(s"$ckptDir/base_log/commits").contains(0L), "one batch committed")
    Mains.start(spark, "base_log", inDir, outDir, ckptDir).foreach(_.awaitTermination())

    val twin = Apps.baseLog(Map("ods_base_log" -> spark.read.text(s"$inDir/ods_base_log")))
    val diffs = baseLogTopics.map { t =>
      val want = twin(t)
      val got = spark.read.schema(want.schema).json(s"$outDir/$t")
      assert(want.count() > 0, s"$t: empty twin")
      (t, want.exceptAll(got).count(), got.exceptAll(want).count())
    }
    assert(diffs.forall { case (_, missing, extra) => missing + extra == 0 },
      diffs.map { case (t, m, x) => s"$t: $m rows missing, $x extra" }.mkString("; "))
  }

  test("visitor_stats windows close across drain runs (watermark from checkpoint)") {
    val inDir = tempDir("vs-in"); val outDir = tempDir("vs-out"); val ckptDir = tempDir("vs-ckpt")
    val pv = new java.io.File(s"$inDir/pv"); pv.mkdirs()
    def delta(ts: Long, pvCt: Long): String =
      s"""{"ar":"110000","ch":"web","vc":"v1","is_new":"1","pv_ct":$pvCt,"sv_ct":0,"uv_ct":0,"uj_ct":0,"dur_sum":5,"event_time":"${java.time.Instant.ofEpochMilli(ts)}"}"""
    Files.write(new java.io.File(pv, "b1.jsonl").toPath,
      java.util.Arrays.asList(delta(day1, 1), delta(day1 + 1000, 1)))
    Mains.start(spark, "visitor_stats", inDir, outDir, ckptDir).foreach(_.awaitTermination())
    // pane [day1, day1+10s) is still open: nothing may emit yet (append mode)
    val afterRun1 = spark.read.schema("stt string, pv_ct long").json(s"$outDir/dws_visitor_stats")
    assert(afterRun1.count() == 0, "open pane must not emit in append mode")

    // second run: an event 30 s later pushes the checkpointed watermark past the pane
    Files.write(new java.io.File(pv, "b2.jsonl").toPath,
      java.util.Arrays.asList(delta(day1 + 30000, 1)))
    Mains.start(spark, "visitor_stats", inDir, outDir, ckptDir).foreach(_.awaitTermination())
    val closed = spark.read.json(s"$outDir/dws_visitor_stats")
    assert(closed.count() == 1, "exactly the first pane closed")
    assert(closed.head.getAs[Long]("pv_ct") == 2L, "both day1 rows aggregated once")
  }

  test("base_log output chains into unique_visit and keyword_stats through files") {
    val inDir = tempDir("chain-in"); val outDir = tempDir("chain-out"); val ckptDir = tempDir("chain-ckpt")
    val srcDir = new java.io.File(s"$inDir/ods_base_log"); srcDir.mkdirs()
    val searchLine =
      s"""{"common":{"ar":"1","uid":"u1","ch":"web","is_new":"1","mid":"mA","vc":"v1"},"page":{"page_id":"good_list","item":"spark engine","item_type":"keyword","during_time":30},"ts":$day1}"""
    Files.write(new java.io.File(srcDir, "b.txt").toPath, java.util.Arrays.asList(
      logLine("mA", "1", day1 - 1000L), searchLine, logLine("mB", "0", day1 + 1000L)))
    Mains.start(spark, "base_log", inDir, outDir, ckptDir).foreach(_.awaitTermination())

    // the DWD page topic (file dir) IS the next layer's source — same as Kafka
    val uvOut = tempDir("uv-out")
    Mains.start(spark, "unique_visit", outDir, uvOut, ckptDir).foreach(_.awaitTermination())
    val uv = spark.read.json(s"$uvOut/dwm_unique_visit")
    assert(uv.select("mid").collect().map(_.getString(0)).toSet == Set("mA", "mB"),
      "one first-visit row per device")

    val kwOut = tempDir("kw-out")
    Mains.start(spark, "keyword_stats", outDir, kwOut, ckptDir).foreach(_.awaitTermination())
    // windowed agg: the pane is still open after one drain (watermark
    // semantics); only SEARCH events advance keywordStats' watermark (the
    // page filter precedes it), so run 2 feeds a later search event
    val srcDir2 = new java.io.File(s"$inDir/ods_base_log")
    Files.write(new java.io.File(srcDir2, "b2.txt").toPath, java.util.Arrays.asList(
      s"""{"common":{"ar":"1","uid":"u9","ch":"web","is_new":"0","mid":"mC","vc":"v1"},"page":{"page_id":"good_list","item":"later probe","item_type":"keyword","during_time":5},"ts":${day1 + 600000L}}"""))
    Mains.start(spark, "base_log", inDir, outDir, ckptDir).foreach(_.awaitTermination())
    Mains.start(spark, "keyword_stats", outDir, kwOut, ckptDir).foreach(_.awaitTermination())
    val kw = spark.read.json(s"$kwOut/dws_keyword_stats")
    val kws = kw.collect().map(r => r.getAs[String]("keyword")).toSet
    assert(kws == Set("spark", "engine"), s"tokenized search keywords in closed pane: $kws")
  }

  test("remaining apps launch file-bound: user_jump, product_stats chain, province_stats") {
    // --- user_jump_detail over a directly-written page topic ---
    val ujIn = tempDir("uj-in"); val ujOut = tempDir("uj-out"); val ujCk = tempDir("uj-ck")
    val pageDir = new java.io.File(s"$ujIn/dwd_page_log"); pageDir.mkdirs()
    def pageRow(mid: String, ts: Long, lastPage: String): String = {
      val lp = if (lastPage == null) "null" else s""""$lastPage""""
      s"""{"mid":"$mid","uid":"u-$mid","ar":"1","ch":"web","vc":"v1","is_new":"0","page_id":"home","last_page_id":$lp,"during_time":10,"ts":$ts}"""
    }
    Files.write(new java.io.File(pageDir, "b.jsonl").toPath, java.util.Arrays.asList(
      pageRow("mJ", day1, null),                   // entry, no follow-up → bounce via timeout
      pageRow("mK", day1, null),                   // entry…
      pageRow("mK", day1 + 3000L, "home"),         // …followed within 10 s: not a bounce
      pageRow("mW", day1 + 60000L, "home")))       // watermark driver past mJ's gap
    Mains.start(spark, "user_jump_detail", ujIn, ujOut, ujCk).foreach(_.awaitTermination())
    // the timeout fires once a LATER batch advances the watermark
    Files.write(new java.io.File(pageDir, "b2.jsonl").toPath, java.util.Arrays.asList(
      pageRow("mW", day1 + 120000L, "home")))
    Mains.start(spark, "user_jump_detail", ujIn, ujOut, ujCk).foreach(_.awaitTermination())
    val uj = spark.read.json(s"$ujOut/dwm_user_jump_detail")
    assert(uj.select("mid").collect().map(_.getString(0)).toSet == Set("mJ"),
      "only the unanswered session entry bounces")

    // --- product_stats (delta + dims) chained into keyword_stats_product ---
    val psIn = tempDir("ps-in"); val psOut = tempDir("ps-out"); val psCk = tempDir("ps-ck")
    val clickDir = new java.io.File(s"$psIn/dwd_click"); clickDir.mkdirs()
    def delta(ts: Long): String =
      s"""{"sku_id":7,"click_ct":1,"event_time":"${java.time.Instant.ofEpochMilli(ts)}"}"""
    Files.write(new java.io.File(clickDir, "b.jsonl").toPath,
      java.util.Arrays.asList(delta(day1), delta(day1 + 1000L)))
    def dim(topic: String, rows: String*): Unit = {
      val d = new java.io.File(s"$psIn/$topic"); d.mkdirs()
      Files.write(new java.io.File(d, "d.jsonl").toPath, java.util.Arrays.asList(rows: _*))
    }
    dim("dim_sku_info", """{"id":7,"sku_name":"widget","spu_id":3,"tm_id":4,"category3_id":5}""")
    dim("dim_spu_info", """{"id":3,"spu_name":"super widget"}""")
    dim("dim_base_trademark", """{"id":4,"tm_name":"acme"}""")
    dim("dim_base_category3", """{"id":5,"name":"gadgets"}""")
    Mains.start(spark, "product_stats", psIn, psOut, psCk).foreach(_.awaitTermination())
    Files.write(new java.io.File(clickDir, "b2.jsonl").toPath,
      java.util.Arrays.asList(delta(day1 + 60000L))) // closes the first pane
    Mains.start(spark, "product_stats", psIn, psOut, psCk).foreach(_.awaitTermination())
    val ps = spark.read.schema(Mains.Wire.productStats(spark)).json(s"$psOut/dws_product_stats")
    val psRow = ps.collect()
    assert(psRow.length == 1 && psRow.head.getAs[String]("spu_name") == "super widget" &&
      psRow.head.getAs[Long]("click_ct") == 2L, s"enriched closed pane: ${psRow.toSeq}")

    val kwOut = tempDir("kwp-out")
    Mains.start(spark, "keyword_stats_product", psOut, kwOut, psCk).foreach(_.awaitTermination())
    val kw = spark.read.json(s"$kwOut/dws_keyword_stats_product")
    assert(kw.collect().map(r => (r.getAs[String]("keyword"), r.getAs[String]("source"))).toSet
      .contains(("widget", "CLICK")), "spu tokens crossed the unpivot")

    // --- province_stats over a directly-written order-wide topic ---
    val pvIn = tempDir("pv-in"); val pvOut = tempDir("pv-out"); val pvCk = tempDir("pv-ck")
    val owDir = new java.io.File(s"$pvIn/dwm_order_wide"); owDir.mkdirs()
    def owRow(id: Long, ts: Long): String =
      s"""{"id":$id,"user_id":10,"province_id":110,"total_amount":9.90,"create_ts":$ts,"i_time":"${java.time.Instant.ofEpochMilli(ts)}","detail_id":${id * 100},"order_id":$id,"sku_id":7,"order_price":9.90,"sku_num":1,"split_total_amount":9.90,"province_name":"Beijing","area_code":"110000","iso_code":"CN-11"}"""
    Files.write(new java.io.File(owDir, "b.jsonl").toPath,
      java.util.Arrays.asList(owRow(1L, day1), owRow(2L, day1 + 1000L)))
    Mains.start(spark, "province_stats", pvIn, pvOut, pvCk).foreach(_.awaitTermination())
    Files.write(new java.io.File(owDir, "b2.jsonl").toPath,
      java.util.Arrays.asList(owRow(3L, day1 + 60000L)))
    Mains.start(spark, "province_stats", pvIn, pvOut, pvCk).foreach(_.awaitTermination())
    val pv = spark.read.json(s"$pvOut/dws_province_stats")
    val pvRow = pv.collect()
    assert(pvRow.length == 1 && pvRow.head.getAs[String]("province_name") == "Beijing" &&
      pvRow.head.getAs[Long]("order_count") == 2L,
      s"closed pane with approx-exact distinct at low cardinality: ${pvRow.toSeq}")
  }

  test("base_db main routes facts to per-topic dirs and upserts dim stores") {
    val inDir = tempDir("db-in"); val outDir = tempDir("db-out"); val ckptDir = tempDir("db-ckpt")
    val cdc = new java.io.File(s"$inDir/ods_base_db_m"); cdc.mkdirs()
    val cfg = new java.io.File(s"$inDir/table_process"); cfg.mkdirs()
    Files.write(new java.io.File(cdc, "b1.jsonl").toPath, java.util.Arrays.asList(
      """{"database":"gmall","table":"order_info","type":"insert","ts":1,"data":"{\"id\":\"1\",\"user_id\":\"7\",\"total_amount\":\"9.9\"}"}""",
      """{"database":"gmall","table":"user_info","type":"insert","ts":2,"data":"{\"id\":\"5\",\"name\":\"a\"}"}""",
      """{"database":"gmall","table":"user_info","type":"update","ts":3,"data":"{\"id\":\"5\",\"name\":\"b\"}"}"""))
    Files.write(new java.io.File(cfg, "cfg.jsonl").toPath, java.util.Arrays.asList(
      """{"source_table":"order_info","operate_type":"insert","sink_type":"kafka","sink_table":"dwd_order_info","sink_columns":"id,user_id,total_amount"}""",
      """{"source_table":"user_info","operate_type":"insert","sink_type":"hbase","sink_table":"dim_user_info","sink_columns":"id,name","sink_pk":"id"}""",
      """{"source_table":"user_info","operate_type":"update","sink_type":"hbase","sink_table":"dim_user_info","sink_columns":"id,name","sink_pk":"id"}"""))
    Mains.start(spark, "base_db", inDir, outDir, ckptDir).foreach(_.awaitTermination())
    val facts = spark.read.json(s"$outDir/kafka_facts")
    assert(facts.filter(col("topic") === "dwd_order_info").count() == 1)
    val dim = spark.read.parquet(s"$outDir/hbase_dims/dim_user_info")
    assert(dim.count() == 1, "same-key records collapse to one upserted row")
    assert(dim.head.getAs[String]("value").contains("\"name\":\"b\""),
      "last writer (ts=3) wins inside the micro-batch")

    // restart leg: a later CDC update for the same key in a new file — the
    // checkpointed offsets skip batch 1, the upsert applies only the delta
    Files.write(new java.io.File(cdc, "b2.jsonl").toPath, java.util.Arrays.asList(
      """{"database":"gmall","table":"user_info","type":"update","ts":9,"data":"{\"id\":\"5\",\"name\":\"c\"}"}"""))
    Mains.start(spark, "base_db", inDir, outDir, ckptDir).foreach(_.awaitTermination())
    val facts2 = spark.read.json(s"$outDir/kafka_facts")
    assert(facts2.count() == facts.count(), "fact batch 1 NOT re-emitted after restart")
    val dim2 = spark.read.parquet(s"$outDir/hbase_dims/dim_user_info")
    assert(dim2.count() == 1 && dim2.head.getAs[String]("value").contains("\"name\":\"c\""),
      "restart applied only the new update; key still single-rowed")
  }

  test("base_db follows Mains.start's trigger: a processing-time run stays up after its backlog") {
    val inDir = tempDir("dbt-in"); val outDir = tempDir("dbt-out"); val ckptDir = tempDir("dbt-ckpt")
    val cdc = new java.io.File(s"$inDir/ods_base_db_m"); cdc.mkdirs()
    val cfg = new java.io.File(s"$inDir/table_process"); cfg.mkdirs()
    Files.write(new java.io.File(cdc, "b1.jsonl").toPath, java.util.Arrays.asList(
      """{"database":"gmall","table":"order_info","type":"insert","ts":1,"data":"{\"id\":\"1\",\"user_id\":\"7\",\"total_amount\":\"9.9\"}"}"""))
    Files.write(new java.io.File(cfg, "cfg.jsonl").toPath, java.util.Arrays.asList(
      """{"source_table":"order_info","operate_type":"insert","sink_type":"kafka","sink_table":"dwd_order_info","sink_columns":"id,user_id,total_amount"}"""))
    val qs = Mains.start(spark, "base_db", inDir, outDir, ckptDir,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 hour"))
    try {
      assert(qs.size == 1)
      val q = qs.head
      // processAllAvailable() would wait for the next trigger, an hour away:
      // wait for the first batch's progress instead
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (q.lastProgress == null && q.isActive && System.nanoTime() < deadline) Thread.sleep(20)
      assert(q.lastProgress != null && q.lastProgress.numInputRows == 1, "the backlog ran as batch 0")
      assert(!q.awaitTermination(5000),
        "a processing-time base_db keeps running after its backlog (AvailableNow would exit)")
      val facts = spark.read.json(s"$outDir/kafka_facts")
      assert(facts.filter(col("topic") === "dwd_order_info").count() == 1,
        "the backlog's fact is written by the first trigger")
    } finally qs.foreach(_.stop())
  }

  test("main's arguments: four drain and exit, a fifth is the interval of a processing-time trigger") {
    import org.apache.spark.sql.streaming.Trigger
    assert(Mains.parseArgs(Array("base_log", "in", "out", "ck")) ==
      (("base_log", "in", "out", "ck", Trigger.AvailableNow())))
    assert(Mains.parseArgs(Array("base_db", "in", "out", "ck", "10 seconds")) ==
      (("base_db", "in", "out", "ck", Trigger.ProcessingTime(10000L))))
    Seq(Array("base_log", "in", "out"), Array("base_log", "in", "out", "ck", "10 seconds", "x"),
      Array("base_log", "in", "out", "ck", "soon")).foreach { args =>
      intercept[IllegalArgumentException](Mains.parseArgs(args))
    }
  }

  test("order_wide → payment_wide chain runs file-bound with derived wire schemas") {
    val inDir = tempDir("ow-in"); val outDir = tempDir("ow-out"); val ckptDir = tempDir("ow-ckpt")
    def writeTopic(topic: String, lines: String*): Unit = {
      val d = new java.io.File(s"$inDir/$topic"); d.mkdirs()
      Files.write(new java.io.File(d, "b.jsonl").toPath, java.util.Arrays.asList(lines: _*))
    }
    writeTopic("dwd_order_info",
      s"""{"id":1,"user_id":10,"province_id":110,"total_amount":99.50,"create_ts":$day1}""")
    writeTopic("dwd_order_detail",
      s"""{"id":100,"order_id":1,"sku_id":7,"order_price":99.50,"sku_num":1,"split_total_amount":99.50,"create_ts":$day1}""")
    writeTopic("dim_base_province",
      """{"id":110,"name":"Beijing","area_code":"110000","iso_code":"CN-11"}""")
    Mains.start(spark, "order_wide", inDir, outDir, ckptDir).foreach(_.awaitTermination())
    val ow = spark.read.schema(Mains.Wire.orderWide(spark)).json(s"$outDir/dwm_order_wide")
    assert(ow.count() == 1 && ow.head.getAs[String]("province_name") == "Beijing")

    // chain layer to layer the way the reference chains topics: the payment
    // app's input dir IS the order app's output dir (the file-sink manifest
    // binds entries to their own directory, so the topic dir must be consumed
    // in place — no copies or symlinks, exactly like a Kafka topic)
    val pwOut = tempDir("pw-out")
    val payDir = new java.io.File(s"$outDir/dwd_payment_info"); payDir.mkdirs()
    Files.write(new java.io.File(payDir, "b.jsonl").toPath, java.util.Arrays.asList(
      s"""{"id":500,"order_id":1,"payment_type":"1102","total_amount":99.50,"callback_ts":${day1 + 60000}}"""))
    Mains.start(spark, "payment_wide", outDir, pwOut, ckptDir).foreach(_.awaitTermination())
    val pw = spark.read.json(s"$pwOut/dwm_payment_wide")
    assert(pw.count() == 1, "payment matched its order within the 30-minute band")
  }
}
