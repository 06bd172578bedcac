package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Source/sink-agnostic streaming pipelines mirroring the reference's apps.
  * Each is a pure transform over (streaming or batch) DataFrames, so tests
  * drive them from MemoryStream / files and production binds Kafka.
  */
object Pipelines {

  import org.apache.spark.sql.types._

  /** Schema of the raw gmall app-log JSON (FIXTURES.md §1; samples embedded at
    * BaseLogApp.java:32-110). `from_json` in permissive mode reproduces the
    * reference's missing-field→null fastjson behavior. */
  val rawLogSchema: StructType = StructType(Seq(
    StructField("common", StructType(Seq(
      StructField("ar", StringType), StructField("uid", StringType),
      StructField("os", StringType), StructField("ch", StringType),
      StructField("is_new", StringType), StructField("md", StringType),
      StructField("mid", StringType), StructField("vc", StringType),
      StructField("ba", StringType)))),
    StructField("page", StructType(Seq(
      StructField("page_id", StringType), StructField("last_page_id", StringType),
      StructField("during_time", LongType), StructField("item", StringType),
      StructField("item_type", StringType), StructField("source_type", StringType)))),
    StructField("start", StructType(Seq(
      StructField("entry", StringType), StructField("open_ad_skip_ms", LongType),
      StructField("open_ad_ms", LongType), StructField("loading_time", LongType),
      StructField("open_ad_id", LongType)))),
    StructField("displays", ArrayType(StructType(Seq(
      StructField("display_type", StringType), StructField("item", StringType),
      StructField("item_type", StringType), StructField("pos_id", LongType),
      StructField("order", LongType), StructField("page_id", StringType))))),
    StructField("ts", LongType)))

  /** A9: raw (value: String) topic rows → typed log rows. */
  def parseRawLog(raw: DataFrame): DataFrame =
    raw.select(from_json(col("value"), rawLogSchema).as("j")).select("j.*")

  /** BaseLog 3-way split (A14, BaseLogApp.java:213-257): one parsed log frame
    * → (start, page, display) derivatives. Spark has no side outputs: the
    * three are filtered plans over the same frame. Run as three streaming
    * queries they would each scan and parse the source; `Mains` instead
    * applies the split to each micro-batch of one query, persisted once
    * (`Apps.baseLogSplit`). `displays` rows are exploded with the page_id
    * injected, as the reference does. Expects columns: common struct, page
    * struct, start struct, displays array, ts. */
  def splitLog(parsed: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val start = parsed.filter(col("start").isNotNull)
    val page = parsed.filter(col("start").isNull)
    val display = page
      .filter(col("displays").isNotNull)
      .select(col("common"), col("page"), col("ts"), explode(col("displays")).as("display"))
      .withColumn("display", col("display").withField("page_id", col("page.page_id")))
    (start, page, display)
  }

  /** VisitorStats windowed agg (A23, VisitorStatsApp.java:163-201): union of
    * per-source delta rows → watermark 3 s → 10 s tumble keyed by
    * (ar, ch, vc, is_new) → sums, with stt/edt formatted like the reference.
    * Input needs columns: ar, ch, vc, is_new, pv_ct, sv_ct, uv_ct, uj_ct,
    * dur_sum, event_time (timestamp). */
  def visitorStats(deltas: DataFrame,
                   watermark: String = "3 seconds",
                   windowLen: String = "10 seconds"): DataFrame =
    deltas
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), windowLen),
        col("ar"), col("ch"), col("vc"), col("is_new"))
      .agg(
        sum("pv_ct").as("pv_ct"), sum("sv_ct").as("sv_ct"),
        sum("uv_ct").as("uv_ct"), sum("uj_ct").as("uj_ct"),
        sum("dur_sum").as("dur_sum"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("stt"),
        date_format(col("window.end"), "yyyy-MM-dd HH:mm:ss").as("edt"),
        col("ar"), col("ch"), col("vc"), col("is_new"),
        col("pv_ct"), col("sv_ct"), col("uv_ct"), col("uj_ct"), col("dur_sum"))

  /** KeywordStats (A26 + B1, KeywordStatsApp.java:49-61): filter search pages,
    * tokenize the search phrase (CJK-aware UDF — the ik_analyze port), explode,
    * 10 s windowed count per keyword with constant source tag 'SEARCH'.
    * Input columns: item (search phrase), page_id, event_time. */
  def keywordStats(pages: DataFrame,
                   watermark: String = "2 seconds",
                   windowLen: String = "10 seconds"): DataFrame =
    pages
      .filter(col("page_id") === "good_list" && col("item").isNotNull)
      .withWatermark("event_time", watermark)
      .select(col("event_time"), explode(graft.functions.TextFns.tokenizeUdf(col("item"))).as("keyword"))
      .groupBy(window(col("event_time"), windowLen), col("keyword"))
      .agg(count(lit(1)).as("ct"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("stt"),
        date_format(col("window.end"), "yyyy-MM-dd HH:mm:ss").as("edt"),
        col("keyword"), col("ct"), lit("SEARCH").as("source"))

  /** KeywordStats4Product (A27 + B1/B2, KeywordStats4ProductApp.java:44-55):
    * the double-UDTF shape — tokenize spu_name × unpivot the three count
    * columns (zeros skipped), a cross of two generators per row. Input columns:
    * spu_name, click_ct, cart_ct, order_ct, stt, edt. */
  def keywordStatsForProduct(productStats: DataFrame): DataFrame =
    productStats
      .select(col("stt"), col("edt"),
        explode(graft.functions.TextFns.tokenizeUdf(col("spu_name"))).as("keyword"),
        col("click_ct"), col("cart_ct"), col("order_ct"))
      .selectExpr("stt", "edt", "keyword",
        "stack(3, click_ct, 'CLICK', cart_ct, 'CART', order_ct, 'ORDER') as (ct, source)")
      .filter(col("ct") > 0)

  /** OrderWide interval join (A19, OrderWideApp.java:101-112): order_info ⋈
    * order_detail on order id with |Δt| ≤ `slackMillis` — a stream-stream
    * equi-join whose time band bounds both sides' state; watermarks let Spark
    * evict join state exactly like Flink's interval-join buffers. */
  def orderWide(info: Dataset[OrderInfo], detail: Dataset[OrderDetail],
                slackMillis: Long = 5L, joinType: String = "inner"): DataFrame = {
    // join state holds every row within the watermark delay of the stream
    // head, so state size = delay × input rate (30 s held exactly 10× the
    // rows of 3 s in the round-7 sweep: PLANS.md provider table, NOTES_r7.md)
    val wmDelay = "3 seconds"
    val i = info.toDF()
      .withColumn("i_time", timestamp_millis(col("create_ts")))
      .withWatermark("i_time", wmDelay)
    val d = detail.toDF()
      .withColumnRenamed("id", "detail_id")
      .withColumn("d_time", timestamp_millis(col("create_ts")))
      .drop("create_ts")
      .withWatermark("d_time", wmDelay)
    // joinType "left_outer" gives the A28 shape (Demo2_join.java:59-69):
    // unmatched left rows emit with null right side once the watermark proves
    // no in-band match can still arrive.
    i.join(d,
      col("id") === col("order_id") &&
        col("d_time").between(
          col("i_time") - expr(s"interval $slackMillis milliseconds"),
          col("i_time") + expr(s"interval $slackMillis milliseconds")),
      joinType)
  }

  /** PaymentWide interval join (A20, PaymentWideApp.java:65-75): payment ⋈
    * order-wide rows where the order precedes the payment by ≤ 30 minutes. */
  def paymentWide(payment: Dataset[PaymentInfo], orderWide: DataFrame): DataFrame = {
    val p = payment.toDF()
      .withColumnRenamed("id", "payment_id")
      .withColumnRenamed("order_id", "p_order_id")
      .withColumnRenamed("total_amount", "payment_amount")
      .withColumn("p_time", timestamp_millis(col("callback_ts")))
      .withWatermark("p_time", "3 seconds")
    // orderWide already carries the i_time watermark (redefining it is illegal),
    // and a stream may expose at most ONE event-time column — drop the detail
    // side's d_time so i_time is the join's event-time axis.
    val o = orderWide.drop("d_time")
    p.join(o,
      col("p_order_id") === col("id") &&
        col("i_time").between(col("p_time") - expr("interval 30 minutes"), col("p_time")))
  }
}
