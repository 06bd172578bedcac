package graft.apps

import graft.streaming.{CdcRouter, LogEvent, Pipelines, ProductStats, Stateful}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** App-for-app equivalents of the reference's eleven jobs (SURVEY §7.1): each
  * is a PURE transform `Map[topic → DataFrame] → Map[topic → DataFrame]` —
  * source/sink-agnostic, so tests feed files/memory and production binds Kafka
  * through graft.io.Io. Input/output topic names follow the reference's.
  *
  * A user of the reference switches app by app: same inputs, same outputs,
  * same keyed semantics — Spark plans underneath.
  */
object Apps {

  /** Parsed log DF (Pipelines.rawLogSchema shape) → typed LogEvent view. */
  def toLogEvents(parsed: DataFrame): Dataset[LogEvent] = {
    import parsed.sparkSession.implicits._
    parsed.select(
      col("common.mid").as("mid"), col("common.uid").as("uid"),
      col("common.ar").as("ar"), col("common.ch").as("ch"),
      col("common.vc").as("vc"), col("common.is_new").as("is_new"),
      col("page.page_id").as("page_id"), col("page.last_page_id").as("last_page_id"),
      col("page.during_time").as("during_time"), col("ts"),
      col("page.item").as("item")).as[LogEvent]
  }

  /** When the input is a stream, derive the event-time column + watermark the
    * stateful operators' event-time timeouts require; batch inputs pass
    * through (watermarks are meaningless there). */
  private def watermarked(events: Dataset[LogEvent],
                          delay: String = "3 seconds"): Dataset[LogEvent] = {
    if (!events.isStreaming) events
    else {
      val spark = events.sparkSession
      import spark.implicits._
      events.withColumn("event_time", timestamp_millis(col("ts")))
        .withWatermark("event_time", delay).as[LogEvent]
    }
  }

  /** BaseLogApp (app/dwd/BaseLogApp.java): raw ods_base_log → parse → is_new
    * repair on the WHOLE stream → 3-way split, the reference's operator order
    * (repair at :156-204 precedes the split at :213-257), so the start and
    * display outputs carry the repaired flag too. Unparseable records (null
    * common/ts after permissive from_json) route to the dirty output instead
    * of crashing the typed stream — the reference's dirty side-output.
    *
    * The composition of [[baseLogRepaired]] (the streaming half) and
    * [[baseLogSplit]] (stateless): `Mains` runs the first as one streaming
    * query and applies the second to each micro-batch, so the stream and
    * this batch twin run the same code. */
  def baseLog(inputs: Map[String, DataFrame]): Map[String, DataFrame] =
    baseLogSplit(baseLogRepaired(inputs))

  /** ods_base_log parsed once; one keyed `is_new` repair over the clean rows,
    * the dirty rows carried alongside unchanged (same columns). */
  def baseLogRepaired(inputs: Map[String, DataFrame]): DataFrame = {
    val parsed = Pipelines.parseRawLog(inputs("ods_base_log"))
    import parsed.sparkSession.implicits._
    Stateful.repairIsNewRaw(parsed.filter(!dirtyLog).as[graft.streaming.RawLog]).toDF()
      .union(parsed.filter(dirtyLog))
  }

  /** [[baseLogRepaired]]'s rows → the four DWD topics. */
  def baseLogSplit(repaired: DataFrame): Map[String, DataFrame] = {
    val (start, page, display) = Pipelines.splitLog(repaired.filter(!dirtyLog))
    Map("dwd_start_log" -> start, "dwd_page_log" -> toLogEvents(page).toDF(),
      "dwd_display_log" -> display, "dwd_dirty_log" -> repaired.filter(dirtyLog))
  }

  private def dirtyLog = col("common").isNull || col("ts").isNull

  /** Whether `df` already carries an event-time watermark (re-defining one
    * is illegal): a file- or Kafka-read topic has none, a chained in-process
    * frame may. */
  private[apps] def hasWatermark(df: DataFrame): Boolean =
    df.queryExecution.analyzed.output.exists(_.metadata.contains("spark.watermarkDelayMs"))

  /** UniqueVisitApp (app/dwm/UniqueVisitApp.java): daily first visit per mid. */
  def uniqueVisit(inputs: Map[String, DataFrame]): Map[String, DataFrame] = {
    val page = inputs("dwd_page_log")
    import page.sparkSession.implicits._
    val events = watermarked(page.as[LogEvent])
    Map("dwm_unique_visit" -> Stateful.dailyUv(events).toDF())
  }

  /** UserJumpDetailApp (app/dwm/UserJumpDetailApp.java): bounce sessions. */
  def userJumpDetail(inputs: Map[String, DataFrame]): Map[String, DataFrame] = {
    val page = inputs("dwd_page_log")
    import page.sparkSession.implicits._
    val events = watermarked(page.as[LogEvent])
    Map("dwm_user_jump_detail" -> Stateful.detectBounces(events).toDF())
  }

  /** OrderWideApp (app/dwm/OrderWideApp.java): order ⋈ detail interval join +
    * user/province/sku broadcast enrichment with the derived user_age —
    * intended semantics: province joined on province_id, NOT the reference's
    * user_id bug (SURVEY §7.4). */
  def orderWide(inputs: Map[String, DataFrame]): Map[String, DataFrame] = {
    val info = inputs("dwd_order_info")
    import info.sparkSession.implicits._
    val joined = Pipelines.orderWide(
      info.as[graft.streaming.OrderInfo],
      inputs("dwd_order_detail").as[graft.streaming.OrderDetail])
    val withUser = inputs.get("dim_user_info").fold(joined) { u =>
      joined.join(broadcast(u.select(
        col("id").as("u_id"), col("gender").as("user_gender"),
        floor(datediff(current_date(), to_date(col("birthday"))) / lit(365)).as("user_age"))),
        col("user_id") === col("u_id"), "left").drop("u_id")
    }
    val withProvince = inputs.get("dim_base_province").fold(withUser) { p =>
      withUser.join(broadcast(p.select(
        col("id").as("p_id"), col("name").as("province_name"),
        col("area_code"), col("iso_code"))),
        col("province_id") === col("p_id"), "left").drop("p_id")
    }
    val withSku = inputs.get("dim_sku_info").fold(withProvince) { s =>
      withProvince.join(broadcast(s.select(
        col("id").as("s_id"), col("sku_name"), col("spu_id"),
        col("tm_id"), col("category3_id"))),
        col("sku_id") === col("s_id"), "left").drop("s_id")
    }
    Map("dwm_order_wide" -> withSku)
  }

  /** PaymentWideApp (app/dwm/PaymentWideApp.java) — intended sink topic
    * dwm_payment_wide (the reference swaps it with its group id, SURVEY §7.4). */
  def paymentWide(inputs: Map[String, DataFrame]): Map[String, DataFrame] = {
    val pay = inputs("dwd_payment_info")
    import pay.sparkSession.implicits._
    Map("dwm_payment_wide" -> Pipelines.paymentWide(
      pay.as[graft.streaming.PaymentInfo], inputs("dwm_order_wide")))
  }

  /** VisitorStatsApp (app/dws/VisitorStatsApp.java): 4-stream union → 10 s
    * windows keyed (ar, ch, vc, is_new). Inputs are the delta streams with the
    * standard columns (see Pipelines.visitorStats); the *intended* per-field
    * sums, not the reference's uj-from-uv reduce bug (SURVEY §7.4). */
  def visitorStats(inputs: Map[String, DataFrame]): Map[String, DataFrame] =
    Map("dws_visitor_stats" -> Pipelines.visitorStats(
      inputs.values.reduce(_.unionByName(_, allowMissingColumns = false))))

  /** ProductStatsApp (app/dws/ProductStatsApp.java): 7-way union → windows →
    * exact distinct counts → dim enrichment. */
  def productStats(inputs: Map[String, DataFrame]): Map[String, DataFrame] = {
    val deltaKeys = inputs.keySet -- Set(
      "dim_sku_info", "dim_spu_info", "dim_base_trademark", "dim_base_category3")
    val agg = ProductStats.aggregate(
      ProductStats.unionDeltas(deltaKeys.toSeq.sorted.map(inputs)))
    val enriched = (for {
      sku <- inputs.get("dim_sku_info")
      spu <- inputs.get("dim_spu_info")
      tm <- inputs.get("dim_base_trademark")
      c3 <- inputs.get("dim_base_category3")
    } yield ProductStats.enrich(agg, sku, spu, tm, c3)).getOrElse(agg)
    Map("dws_product_stats" -> enriched)
  }

  /** ProvinceStatsApp (app/dws/ProvinceStatsApp.java) — the intended SQL
    * (reference's is missing FROM and misspells province_name, SURVEY §7.4):
    * 10 s tumble per province, count(distinct order_id), sum(split_total_amount). */
  def provinceStats(inputs: Map[String, DataFrame]): Map[String, DataFrame] = {
    val raw = inputs("dwm_order_wide")
    // streaming: exact count(distinct) is unsupported inside a streaming agg →
    // approx_count_distinct, the documented divergence (SURVEY §7.3); batch
    // keeps the exact count (and is what the DuckDB-style oracle checks).
    // Watermark: the chained [[orderWide]] output already carries one on
    // i_time (re-defining is illegal), but a standalone deployment fed from a
    // raw Kafka topic does not — apply one only if absent.
    val ow =
      if (raw.isStreaming && !hasWatermark(raw)) raw.withWatermark("i_time", "3 seconds")
      else raw
    val orderCount =
      if (ow.isStreaming) approx_count_distinct(col("id")).as("order_count")
      else countDistinct(col("id")).as("order_count")
    Map("dws_province_stats" -> ow
      .groupBy(window(col("i_time"), "10 seconds"),
        col("province_id"), col("province_name"), col("area_code"), col("iso_code"))
      .agg(orderCount, sum(col("split_total_amount")).as("order_amount"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("stt"),
        date_format(col("window.end"), "yyyy-MM-dd HH:mm:ss").as("edt"),
        col("province_id"), col("province_name"), col("area_code"), col("iso_code"),
        col("order_count"), col("order_amount")))
  }

  /** KeywordStatsApp (app/dws/KeywordStatsApp.java): consumes the flat repaired
    * page log from [[baseLog]]. */
  def keywordStats(inputs: Map[String, DataFrame]): Map[String, DataFrame] =
    Map("dws_keyword_stats" -> Pipelines.keywordStats(
      inputs("dwd_page_log").select(
        col("page_id"), col("item"), timestamp_millis(col("ts")).as("event_time"))))

  /** KeywordStats4ProductApp (app/dws/KeywordStats4ProductApp.java). */
  def keywordStats4Product(inputs: Map[String, DataFrame]): Map[String, DataFrame] =
    Map("dws_keyword_stats_product" ->
      Pipelines.keywordStatsForProduct(inputs("dws_product_stats")))

  /** BaseDBApp (app/dwd/BaseDBApp.java): CDC router split into the fact stream
    * (with dynamic `topic` column) and the dim stream (with sink_pk). */
  def baseDb(inputs: Map[String, DataFrame]): Map[String, DataFrame] = {
    val routed = CdcRouter.route(
      CdcRouter.validRecords(inputs("ods_base_db_m")), inputs("table_process").collect().toSeq)
    Map(
      "kafka_facts" -> routed.filter(col("sink_type") === "kafka")
        .select("topic", "value", "ts"),
      "hbase_dims" -> routed.filter(col("sink_type") === "hbase"))
  }
}
