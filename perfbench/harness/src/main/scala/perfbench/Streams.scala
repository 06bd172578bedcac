package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ExecutorCompletionService, Executors}

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.apps.{Apps, Mains}
import graft.apps.Mains.Wire
import graft.io.Io
import graft.streaming.CdcRouter
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The 11 apps as one file-topic chain, and their batch twins. */
object Chain {
  val deps: Map[String, Seq[String]] = Map(
    "unique_visit" -> Seq("base_log"), "user_jump_detail" -> Seq("base_log"),
    "keyword_stats" -> Seq("base_log"), "payment_wide" -> Seq("order_wide"),
    "province_stats" -> Seq("order_wide"), "keyword_stats_product" -> Seq("product_stats"))
    .withDefaultValue(Nil)
  /** DWD → DWM → DWS: the order in which ready apps get a thread. */
  val layer: Map[String, Int] = Map("base_log" -> 0, "base_db" -> 0, "order_wide" -> 1,
    "unique_visit" -> 1, "user_jump_detail" -> 1, "payment_wide" -> 1)
    .withDefaultValue(2)
  val outputs: Map[String, Seq[String]] = Map(
    "base_log" -> Seq("dwd_start_log", "dwd_page_log", "dwd_display_log", "dwd_dirty_log"),
    "unique_visit" -> Seq("dwm_unique_visit"), "user_jump_detail" -> Seq("dwm_user_jump_detail"),
    "order_wide" -> Seq("dwm_order_wide"), "payment_wide" -> Seq("dwm_payment_wide"),
    "visitor_stats" -> Seq("dws_visitor_stats"), "product_stats" -> Seq("dws_product_stats"),
    "province_stats" -> Seq("dws_province_stats"), "keyword_stats" -> Seq("dws_keyword_stats"),
    "keyword_stats_product" -> Seq("dws_keyword_stats_product"),
    "base_db" -> Seq("kafka_facts", "hbase_dims"))
  val maxThreads = 4

  def inDir(app: String, bus: String, gen: String): String = app match {
    case "visitor_stats" => s"$gen/visitor"
    case "product_stats" => s"$gen/product"
    case _ => bus
  }

  /** Batch bindings mirroring `Mains.start`, over the same directories. */
  def twin(spark: SparkSession, app: String, in: String): Map[String, DataFrame] = {
    def js(topic: String, schema: org.apache.spark.sql.types.StructType) =
      spark.read.schema(schema).json(s"$in/$topic")
    def dims(names: (String, org.apache.spark.sql.types.StructType)*) =
      names.filter { case (n, _) => new File(s"$in/$n").isDirectory }
        .map { case (n, s) => n -> js(n, s) }.toMap
    def subTopics = Option(new File(in).listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    app match {
      case "base_log" => Apps.baseLog(Map("ods_base_log" -> spark.read.text(s"$in/ods_base_log")))
      case "unique_visit" => Apps.uniqueVisit(Map("dwd_page_log" -> js("dwd_page_log", Wire.logEvent)))
      case "user_jump_detail" =>
        Apps.userJumpDetail(Map("dwd_page_log" -> js("dwd_page_log", Wire.logEvent)))
      case "keyword_stats" => Apps.keywordStats(Map("dwd_page_log" -> js("dwd_page_log", Wire.logEvent)))
      case "order_wide" => Apps.orderWide(Map(
        "dwd_order_info" -> js("dwd_order_info", Wire.orderInfo),
        "dwd_order_detail" -> js("dwd_order_detail", Wire.orderDetail)) ++
        dims("dim_user_info" -> Wire.userDim, "dim_base_province" -> Wire.provinceDim,
          "dim_sku_info" -> Wire.skuDim))
      case "payment_wide" => Apps.paymentWide(Map(
        "dwd_payment_info" -> js("dwd_payment_info", Wire.paymentInfo),
        "dwm_order_wide" -> js("dwm_order_wide", Wire.orderWide(spark))))
      case "province_stats" =>
        Apps.provinceStats(Map("dwm_order_wide" -> js("dwm_order_wide", Wire.orderWide(spark))))
      case "visitor_stats" => Apps.visitorStats(subTopics.map(t => t -> js(t, Wire.visitorDelta)).toMap)
      case "product_stats" =>
        val d = dims("dim_sku_info" -> Wire.skuDim, "dim_spu_info" -> Wire.spuDim,
          "dim_base_trademark" -> Wire.trademarkDim, "dim_base_category3" -> Wire.category3Dim)
        Apps.productStats((subTopics.toSet -- d.keySet).toSeq.sorted
          .map(t => t -> js(t, Wire.productDelta)).toMap ++ d)
      case "keyword_stats_product" => Apps.keywordStats4Product(Map(
        "dws_product_stats" -> js("dws_product_stats", Wire.productStats(spark))))
      case "base_db" => Apps.baseDb(Map(
        "ods_base_db_m" -> js("ods_base_db_m", CdcRouter.envelopeSchema),
        "table_process" -> js("table_process", CdcRouter.configSchema)))
    }
  }

  private def aligned(a: DataFrame, b: DataFrame): DataFrame = b.select(a.columns.map(col): _*)

  // The drained outputs are small, so they are compared on the driver: a
  // shuffle per comparison costs more than the rows.
  private def bag(df: DataFrame): Map[Row, Long] = df.collect().toSeq.groupMapReduce(identity)(_ => 1L)(_ + _)

  private def over(p: Map[Row, Long], q: Map[Row, Long]): Long =
    p.iterator.map { case (row, n) => math.max(0L, n - q.getOrElse(row, 0L)) }.sum

  /** Rows of `a` missing from `b`, as a multiset. */
  def missing(a: DataFrame, b: DataFrame): Long = over(bag(a), bag(aligned(a, b)))

  /** (rows of `a` missing from `b`, rows of `b` missing from `a`), as multisets. */
  def diff(a: DataFrame, b: DataFrame): (Long, Long) = {
    val (x, y) = (bag(a), bag(aligned(a, b)))
    (over(x, y), over(y, x))
  }

  def read(spark: SparkSession, bus: String, topic: String, like: DataFrame): DataFrame =
    spark.read.schema(like.schema).json(s"$bus/$topic")

  private def wmString(wmMs: Long): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.ofEpochMilli(wmMs))

  /** Check one app's sink topics against its batch twin over the same input.
    * Streaming semantics that differ on purpose:
    *  - windowed aggregates emit only panes the final watermark closed, so
    *    the stream must equal the twin's closed panes (a pane ending at or
    *    after the watermark may be missing, none may be extra or wrong);
    *  - province_stats counts orders with approx_count_distinct in
    *    streaming: compared without order_count, which must be within 10%;
    *  - user_jump_detail also emits entries timed out by the watermark,
    *    which a batch run never times out;
    *  - unique_visit under late input: (mid, day) keys only, the twin may
    *    hold up to `lateEvents` more keys (dropped late events).
    * Returns None on success, or what differs. */
  def check(spark: SparkSession, app: String, bus: String, in: String,
            wmMs: Map[String, Long], lateEvents: Long = 0): Option[String] = {
    val tw = twin(spark, app, in)
    val errs = mutable.ArrayBuffer.empty[String]
    def rows(topic: String) = read(spark, bus, topic, tw(topic))
    def equal(topic: String): Unit = {
      val (m, x) = diff(tw(topic), rows(topic))
      if (m + x > 0) errs += s"$topic: $m rows missing, $x extra"
    }
    def closed(topic: String, dropCols: Seq[String] = Nil): Unit = {
      val wm = wmString(wmMs.getOrElse(app, Long.MinValue / 2))
      val s = rows(topic).drop(dropCols: _*)
      val t = tw(topic).drop(dropCols: _*)
      val x = missing(s, t)
      val m = missing(t.filter(col("edt") < lit(wm)), s)
      if (m + x > 0) errs += s"$topic: $m closed panes missing, $x extra (watermark $wm)"
    }
    app match {
      case "visitor_stats" | "product_stats" | "keyword_stats" => closed(Chain.outputs(app).head)
      case "province_stats" =>
        closed("dws_province_stats", Seq("order_count"))
        val keys = Seq("stt", "edt", "province_id")
        val far = rows("dws_province_stats").select((keys :+ "order_count").map(col): _*)
          .join(tw("dws_province_stats").select(keys.map(col) :+ col("order_count").as("exact"): _*), keys)
          .filter(abs(col("order_count") - col("exact")) > greatest(lit(1.0), col("exact") * 0.1))
          .count()
        if (far > 0) errs += s"dws_province_stats: $far order_count beyond the approx bound"
      case "user_jump_detail" =>
        val s = rows("dwm_user_jump_detail")
        val t = tw("dwm_user_jump_detail")
        val m = missing(t, s)
        val wm = wmMs.getOrElse(app, Long.MinValue / 2)
        val x = s.exceptAll(t.select(s.columns.map(col): _*))
          .filter(col("ts") + 10000L > lit(wm)).count()
        if (m + x > 0) errs += s"dwm_user_jump_detail: $m missing, $x extra not timed out"
      case "unique_visit" if lateEvents > 0 =>
        def keys(df: DataFrame) = df.select(col("mid"), to_date(timestamp_millis(col("ts"))).as("d"))
        val s = keys(rows("dwm_unique_visit"))
        val t = keys(tw("dwm_unique_visit"))
        val (m, x) = diff(t, s)
        if (x > 0 || m > lateEvents) errs += s"dwm_unique_visit: $m keys missing, $x extra"
      case "base_db" =>
        val facts = tw("kafka_facts").select("topic", "value")
        val s = spark.read.json(s"$bus/kafka_facts").select("topic", "value")
        val (m, x) = diff(facts, s)
        if (m + x > 0) errs += s"kafka_facts: $m missing, $x extra"
        val latest = tw("hbase_dims")
          .select(col("sink_table"), col("kv_pruned")(col("sink_pk")).as("pk"), col("value"), col("ts"))
          .withColumn("r", row_number().over(Window.partitionBy("sink_table", "pk").orderBy(col("ts").desc)))
          .filter(col("r") === 1).select("sink_table", "pk", "value")
        val tables = latest.select("sink_table").distinct().collect().map(_.getString(0)).sorted
        tables.foreach { tbl =>
          val want = latest.filter(col("sink_table") === tbl).select("pk", "value")
          val got = Io.readDim(spark, s"$bus/hbase_dims/$tbl").select(col("id").cast("string").as("pk"), col("value"))
          val (m, x) = diff(want, got)
          if (m + x > 0) errs += s"hbase_dims/$tbl: $m keys missing or stale, $x extra"
        }
      case _ => Chain.outputs(app).foreach(equal)
    }
    if (errs.isEmpty) None else Some(s"$app: ${errs.mkString("; ")}")
  }

  /** [[check]] for several app runs, `maxThreads` at a time, in `runs`
    * order; each run's bus is given by `busOf`, its watermark by its label.
    * The checks are not measured, so the twins' shuffles run at one
    * partition per core rather than the stream session's 32, which would
    * schedule 32 tasks per shuffle for a few thousand rows. */
  def checkAll(spark: SparkSession, runs: Seq[AppRun], busOf: AppRun => String, gen: String,
               wmMs: Map[String, Long], lateEvents: Long = 0): Seq[Option[String]] = {
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", spark.sparkContext.defaultParallelism.toLong)
    val pool = Executors.newFixedThreadPool(maxThreads)
    try {
      runs.map { run =>
        val bus = busOf(run)
        val wm = wmMs.get(run.label).map(run.app -> _).toMap
        pool.submit(() => try check(spark, run.app, bus, inDir(run.app, bus, gen), wm, lateEvents)
          .map(e => if (run.label == run.app) e else s"${run.label}: $e")
          catch { case NonFatal(e) => Some(s"${run.label} check: ${e.getMessage}") })
      }.map(_.get())
    } finally {
      pool.shutdown()
      spark.conf.set("spark.sql.shuffle.partitions", partitions)
    }
  }

  /** Per-layer numbers from the progress events of each app's queries. */
  def layers(t: Trace, apps: Map[String, Seq[java.util.UUID]], r: Result, prefix: Boolean = true): Unit = {
    var batches, addBatch, getBatch, latest, planning, wal, commit, overhead = 0.0
    var stateRows, stateBytes, stateCommit, dropped = 0.0
    apps.foreach { case (app, ids) =>
      val ps = Trace.progressOf(t, ids.toSet)
      def d(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String) =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      r.layers(s"apps.$app.batches") = ps.size.toDouble
      r.layers(s"apps.$app.rows_in") = ps.map(_.numInputRows).sum.toDouble
      batches += ps.size
      ps.foreach { p =>
        addBatch += d(p, "addBatch"); getBatch += d(p, "getBatch"); latest += d(p, "latestOffset")
        planning += d(p, "queryPlanning"); wal += d(p, "walCommit"); commit += d(p, "commitOffsets")
        overhead += d(p, "triggerExecution") - d(p, "addBatch")
        stateCommit += p.stateOperators.map(_.commitTimeMs).sum
        dropped += p.stateOperators.map(_.numRowsDroppedByWatermark).sum
      }
      val appRows = ps.groupBy(_.id).values.map(_.map(_.stateOperators.map(_.numRowsTotal).sum).max).sum
      r.layers(s"apps.$app.state_rows_peak") = appRows.toDouble
      stateRows += appRows
      ps.groupBy(_.id).values.foreach { qps =>
        stateBytes += qps.map(_.stateOperators.map(_.memoryUsedBytes).sum).maxOption.getOrElse(0L)
      }
    }
    r.layers ++= Seq("stream.addBatch_ms" -> addBatch, "stream.getBatch_ms" -> getBatch,
      "stream.latestOffset_ms" -> latest, "stream.queryPlanning_ms" -> planning,
      "stream.walCommit_ms" -> wal, "stream.commitOffsets_ms" -> commit,
      "stream.trigger_overhead_ms_per_batch" -> (if (batches > 0) overhead / batches else 0.0),
      "streaming.state_rows_peak" -> stateRows, "streaming.state_bytes_peak" -> stateBytes,
      "streaming.state_commit_ms" -> stateCommit, "streaming.watermark_dropped_rows" -> dropped)
  }

  def watermark(q: StreamingQuery): Option[Long] =
    Option(q.lastProgress).flatMap(p => Option(p.eventTime.get("watermark")))
      .map(s => java.time.Instant.parse(s).toEpochMilli)

  def sinkIo(r: Result, bus: String, apps: Seq[String]): Unit = {
    val topics = apps.flatMap(outputs).filterNot(_ == "hbase_dims")
    val stats = topics.map(tp => Harness.dirBytes(s"$bus/$tp"))
    r.layers("io.sink_files") = stats.map(_._1).sum.toDouble
    r.layers("io.sink_bytes") = stats.map(_._2).sum.toDouble
    r.layers("io.dim_store_bytes") = Harness.dirBytes(s"$bus/hbase_dims")._2.toDouble
  }

  def countRows(spark: SparkSession, bus: String, app: String): Double =
    outputs(app).filterNot(_ == "hbase_dims").map { tp =>
      val p = s"$bus/$tp"
      if (new File(p).isDirectory) spark.read.text(p).count().toDouble else 0.0
    }.sum
}

/** One app run of a drain: `app` over the generated backlog `gen/<backlog>`,
  * reported under `label`. */
final case class AppRun(label: String, app: String, backlog: String = "ods")

/** Closed loop, one client: the seeded backlogs drained through `runs` under
  * AvailableNow, layer by layer (an app starts once the apps it reads from
  * are done, at most `threads` at a time), in large micro-batches. */
final class Drain(runs: Seq[AppRun], threads: Int) extends Workload {
  val backlogs: Seq[String] = runs.map(_.backlog).distinct

  def session(a: Args): SparkSession.Builder = Harness.streamSession(a)

  def warm(spark: SparkSession, a: Args, r: Result): Unit =
    backlogs.foreach { b =>
      Seq("ods_base_log", "dwd_order_info", "dwd_order_detail", "dwd_payment_info", "ods_base_db_m")
        .filter(t => new File(s"${a.gen}/$b/$t").isDirectory)
        .foreach(t => spark.read.text(s"${a.gen}/$b/$t").count())
    }

  private def link(from: File, to: File): Unit = {
    to.mkdirs()
    Option(from.listFiles()).getOrElse(Array.empty).sortBy(_.getName).foreach { f =>
      if (f.isDirectory) link(f, new File(to, f.getName))
      else Files.createLink(new File(to, f.getName).toPath, f.toPath)
    }
  }

  def run(spark: SparkSession, a: Args, t: Trace, r: Result): Unit = {
    val manifest = Files.readString(Paths.get(a.gen, "manifest.json"))
    def num(k: String) = ("\"" + k + "\":\\s*(\\d+)").r.findFirstMatchIn(manifest).get.group(1).toLong
    // app-log events of every backlog drained (the wide one only by base_log)
    val events = num("events") + (if (backlogs.contains("wide")) num("wide_events") else 0L)
    val drains = mutable.ArrayBuffer.empty[Map[String, Any]]
    val appWall = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val runWalls = mutable.ArrayBuffer.empty[Double]
    val queries = mutable.Map.empty[String, Seq[StreamingQuery]]
    val appIds = mutable.Map.empty[String, Seq[java.util.UUID]].withDefaultValue(Nil)
    val ranOk = mutable.Set.empty[String]
    val appSpan = mutable.Map.empty[java.util.UUID, (String, Long)]
    val t0 = System.nanoTime()
    var k = 0
    def busOf(k: Int)(run: AppRun) = s"${a.work}/drain_$k/${run.backlog}"
    while (k == 0 || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      backlogs.foreach(b => link(new File(s"${a.gen}/$b"), new File(s"${a.work}/drain_$k/$b")))
      val bus = busOf(k)(runs.head)
      val ckpt = s"${a.work}/drain_$k/ckpt"
      val pool = Executors.newFixedThreadPool(threads)
      val done = new ExecutorCompletionService[(String, Option[String])](pool)
      val start = System.currentTimeMillis()
      val d0 = System.nanoTime()
      t.span("drain", s"drain $k", Some(spark.sparkContext)) {
        val drainSpan = t.currentId
        val finished = mutable.Set.empty[String]
        val started = mutable.Set.empty[String]
        var running = 0
        def submitReady(): Unit =
          runs.filterNot(run => started(run.label)).filter(run => Chain.deps(run.app).forall(finished))
            .sortBy(run => (Chain.layer(run.app), run.label))
            .take(threads - running).foreach { run =>
              val app = run.label
              val runBus = busOf(k)(run)
              started += app
              running += 1
              done.submit(() => {
                val s0 = System.nanoTime()
                val err = try {
                  t.span("app", app, Some(spark.sparkContext), parent = drainSpan) {
                    // no per-trigger file cap: each app drains its backlog in one
                    // large micro-batch (plus the no-data batch that closes panes)
                    val qs = Mains.start(spark, run.app, Chain.inDir(run.app, runBus, a.gen), runBus,
                      s"$ckpt/$app")
                    appSpan.synchronized {
                      queries(app) = qs
                      appIds(app) = appIds(app) ++ qs.map(_.id)
                      qs.foreach(q => appSpan(q.id) = (app, t.currentId))
                    }
                    qs.foreach(_.awaitTermination())
                  }
                  None
                } catch { case NonFatal(e) => Some(s"$app drain $k: ${e.getMessage}") }
                val ms = (System.nanoTime() - s0) / 1e6
                System.err.println(f"[perfbench] drain $k: $app done in $ms%.0f ms")
                appSpan.synchronized { appWall(app) += ms; runWalls += ms }
                (app, err)
              })
            }
        submitReady()
        while (running > 0) {
          val (app, err) = done.take().get()
          running -= 1
          finished += app
          if (err.isEmpty) ranOk += app else ranOk -= app
          r.op(err)
          submitReady()
        }
      }
      pool.shutdown()
      drains += Map("k" -> k, "start_ms" -> start, "wall_ms" -> (System.nanoTime() - d0) / 1e6,
        "bus" -> bus, "events" -> events)
      k += 1
    }
    r.samples("drains") = drains.toList
    r.samples("app_run_ms") = runWalls.toList
    val bus = busOf(k - 1)(runs.head)
    // outputs of the last drain against the batch twins (untimed)
    val c0 = System.nanoTime()
    val wms = queries.toMap.flatMap { case (app, qs) => qs.flatMap(Chain.watermark).maxOption.map(app -> _) }
    // a wrong output turns the app's (already counted) last run into a failed one
    val checked = runs.filter(run => ranOk(run.label))
    Chain.checkAll(spark, checked, busOf(k - 1), a.gen, wms).flatten.foreach(r.fail)
    System.err.println(f"[perfbench] checks took ${(System.nanoTime() - c0) / 1e6}%.0f ms")
    if (t.enabled) {
      org.apache.spark.BusDrain.drain(spark.sparkContext)
      t.addBatchSpans(appSpan.toMap)
      Chain.layers(t, appIds.toMap, r)
      runs.foreach { run =>
        r.layers(s"apps.${run.label}.wall_ms") = appWall(run.label)
        r.layers(s"apps.${run.label}.rows_out") = Chain.countRows(spark, busOf(k - 1)(run), run.app) * k
      }
      r.layers("apps.base_log.source_reads_per_event") =
        r.layers("apps.base_log.rows_in") / (num("events").toDouble * k)
      Chain.sinkIo(r, bus, runs.filter(_.backlog == runs.head.backlog).map(_.app))
    }
  }
}

/** Open loop at a fixed event rate: the generator (a separate process)
  * publishes small files on its own schedule while the latency path runs on
  * processing-time triggers: base_log → unique_visit, order_wide → payment_wide. */
final class Paced extends Workload {
  val apps = Seq("base_log", "order_wide", "unique_visit", "payment_wide")
  val TriggerInterval = "1 second"

  def session(a: Args): SparkSession.Builder = Harness.streamSession(a)

  def warm(spark: SparkSession, a: Args, r: Result): Unit =
    Seq("dim_user_info", "dim_base_province", "dim_sku_info")
      .foreach(t => spark.read.text(s"${a.gen}/ods/$t").count())

  def run(spark: SparkSession, a: Args, t: Trace, r: Result): Unit = {
    val bus = s"${a.gen}/ods"
    val ckpt = s"${a.work}/paced_ckpt"
    val queries = mutable.LinkedHashMap.empty[String, Seq[StreamingQuery]]
    val appSpan = mutable.Map.empty[java.util.UUID, (String, Long)]
    val stopFile = new File(a.work, "stop")
    t.span("paced", "paced", Some(spark.sparkContext)) {
      val parent = t.currentId
      apps.foreach { app =>
        t.span("app", app, Some(spark.sparkContext), parent = parent) {
          val qs = Mains.start(spark, app, bus, bus, ckpt, Trigger.ProcessingTime(TriggerInterval))
          queries(app) = qs
          qs.foreach(q => appSpan(q.id) = (app, t.currentId))
        }
      }
      Files.writeString(Paths.get(a.work, "ready"), "1")
      while (!stopFile.exists) Thread.sleep(20)
      // the generator has stopped: let every hop catch up, in chain order
      val c0 = System.nanoTime()
      apps.foreach(app => queries(app).foreach(_.processAllAvailable()))
      r.samples("catch_up_ms") = (System.nanoTime() - c0) / 1e6
      queries.values.flatten.foreach(_.stop())
    }
    val late = Files.readString(stopFile.toPath).trim.toLong
    val wms = queries.toMap.flatMap { case (app, qs) => qs.flatMap(Chain.watermark).maxOption.map(app -> _) }
    Chain.checkAll(spark, apps.map(app => AppRun(app, app)), _ => bus, bus, wms, lateEvents = late)
      .foreach(r.op)
    r.samples("bus") = bus
    if (t.enabled) {
      org.apache.spark.BusDrain.drain(spark.sparkContext)
      t.addBatchSpans(appSpan.toMap)
      Chain.layers(t, queries.toMap.map { case (k, v) => k -> v.map(_.id) }, r)
      apps.foreach(app => r.layers(s"apps.$app.rows_out") = Chain.countRows(spark, bus, app))
      val genLog = Files.readString(Paths.get(a.gen, "gen_log.json"))
      val events = "\"events\":\\s*(\\d+)".r.findFirstMatchIn(genLog).get.group(1).toDouble
      r.layers("apps.base_log.source_reads_per_event") = r.layers("apps.base_log.rows_in") / events
      Chain.sinkIo(r, bus, apps)
    }
  }
}
