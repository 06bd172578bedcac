package graft.apps

import java.io.File

import graft.io.Io
import graft.streaming.{CdcRouter, LogEvent, OrderDetail, OrderInfo, PaymentInfo}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Launchable streaming jobs — one per reference app, mirroring the
  * `main()` → `env.execute()` shape of the reference (BaseLogApp.java:121-272,
  * ProductStatsApp.java:42-340). Each binds file-backed topic directories
  * around the pure [[Apps]] transforms:
  *
  *  - inputs stream from `inDir/<topic>` as JSONL with an explicit wire schema
  *    (`ods_base_log` is raw text lines; `dim_*` inputs are static reads);
  *  - each app is ONE streaming query (as each reference app is one Flink
  *    job); its micro-batch is computed once and fanned out to its topics;
  *  - outputs land in `outDir/<topic>` through Spark's transactional file sink
  *    (manifest-committed per topic ⇒ exactly-once across restarts and
  *    partial fan-out commits, proven by MainsSpec);
  *  - `base_log` (four topics) checkpoints under `ckptDir/base_log`, a
  *    single-topic app under `ckptDir/<topic>`, `base_db` under
  *    `ckptDir/base_db`. A `base_log` checkpoint of the earlier layout (one
  *    query per topic, `ckptDir/<topic>` ×4) is not picked up: such a
  *    deployment restarts `base_log` from an empty checkpoint;
  *  - each binding below prepares the session with [[Io.prepareStreaming]]
  *    before it builds its query or sink, which sets two things:
  *    - every query checkpoints through [[graft.io.LocalCheckpointFileManager]]
  *      (`spark.sql.streaming.checkpointFileManagerClass`), unless the
  *      session already names a manager. On `file:` paths the offsets,
  *      commits, manifests and state files are then written without forking
  *      a process, with their `.crc` sidecars and atomic no-clobber commits
  *      kept; other schemes keep Spark's default manager;
  *    - artifact isolation is off (`spark.sql.artifact.isolation.enabled`),
  *      so the queries of one JVM share its codegen cache: an app started
  *      after another that ran the same plan compiles none of its generated
  *      classes again (with isolation on, each query's cloned session has
  *      its own classloader and recompiles them all). The program adds no
  *      session artifacts, so nothing depends on isolation.
  *
  * On a cluster with the Kafka connector jar the file bindings swap for
  * Io.kafkaStream / Io.kafkaSink with NO change to the transforms (see
  * KAFKA.md); the source/sink decoupling is the same one the reference gets
  * from MyKafkaUtil (utils/MyKafkaUtil.java:17-55).
  *
  * The default trigger is AvailableNow: drain everything present, commit, exit
  * — the deterministic mode for scheduled/backfill runs. A 24×7 deployment
  * passes a processing-time trigger instead: from code as [[start]]'s
  * `trigger`, from spark-submit as [[main]]'s optional fifth argument, an
  * interval such as `"10 seconds"` ([[parseArgs]]). Note the streaming-correct
  * consequence: windowed aggregates only emit panes the WATERMARK has closed,
  * so the last windows of a drain run emit on the next run (state is in the
  * checkpoint) — the same behavior as the reference's event-time windows.
  */
object Mains {

  // ---------------- wire schemas ----------------

  /** Wire schemas of the file-bound topics. Typed topics derive from the same
    * case classes the transforms use; derived topics (order-wide, product-stats)
    * take their schema from the producing transform applied to empty inputs —
    * one source of truth, no hand-maintained duplicate. */
  object Wire {
    val logEvent: StructType = Encoders.product[LogEvent].schema
    val orderInfo: StructType = Encoders.product[OrderInfo].schema
    val orderDetail: StructType = Encoders.product[OrderDetail].schema
    val paymentInfo: StructType = Encoders.product[PaymentInfo].schema

    val visitorDelta: StructType = StructType(
      Seq("ar", "ch", "vc", "is_new").map(StructField(_, StringType)) ++
        Seq("pv_ct", "sv_ct", "uv_ct", "uj_ct", "dur_sum").map(StructField(_, LongType)) :+
        StructField("event_time", TimestampType))

    /** Superset delta row for product-stats: any producer fills its own
      * measures, absent ones arrive null and aggregate as 0. */
    val productDelta: StructType = StructType(
      StructField("sku_id", LongType) +:
        graft.streaming.ProductStats.measureCols.map(StructField(_, LongType)) ++:
        graft.streaming.ProductStats.amountCols.map(StructField(_, DecimalType(16, 2))) ++:
        Seq("order_id", "paid_order_id", "refund_order_id").map(StructField(_, StringType)) :+
        StructField("event_time", TimestampType))

    val userDim: StructType = StructType(Seq(
      StructField("id", LongType), StructField("gender", StringType),
      StructField("birthday", StringType)))
    val provinceDim: StructType = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("area_code", StringType), StructField("iso_code", StringType)))
    val skuDim: StructType = StructType(Seq(
      StructField("id", LongType), StructField("sku_name", StringType),
      StructField("spu_id", LongType), StructField("tm_id", LongType),
      StructField("category3_id", LongType)))
    val spuDim: StructType = StructType(Seq(
      StructField("id", LongType), StructField("spu_name", StringType)))
    val trademarkDim: StructType = StructType(Seq(
      StructField("id", LongType), StructField("tm_name", StringType)))
    val category3Dim: StructType = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))

    private def empty(spark: SparkSession, s: StructType): DataFrame =
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s)

    /** dwm_order_wide as produced by [[Apps.orderWide]] with all three dims
      * present (the full enrichment; missing dims at runtime just read null). */
    def orderWide(spark: SparkSession): StructType =
      Apps.orderWide(Map(
        "dwd_order_info" -> empty(spark, orderInfo),
        "dwd_order_detail" -> empty(spark, orderDetail),
        "dim_user_info" -> empty(spark, userDim),
        "dim_base_province" -> empty(spark, provinceDim),
        "dim_sku_info" -> empty(spark, skuDim)))("dwm_order_wide").schema

    /** dws_product_stats as produced by [[Apps.productStats]] fully enriched. */
    def productStats(spark: SparkSession): StructType =
      Apps.productStats(Map(
        "dwd_delta" -> empty(spark, productDelta),
        "dim_sku_info" -> empty(spark, skuDim),
        "dim_spu_info" -> empty(spark, spuDim),
        "dim_base_trademark" -> empty(spark, trademarkDim),
        "dim_base_category3" -> empty(spark, category3Dim)))("dws_product_stats").schema
  }

  val appNames: Seq[String] = Seq(
    "base_log", "unique_visit", "user_jump_detail", "order_wide", "payment_wide",
    "visitor_stats", "product_stats", "province_stats", "keyword_stats",
    "keyword_stats_product", "base_db")

  // ---------------- bindings ----------------

  /** Extra options for the streaming file sources (e.g. `maxFilesPerTrigger`
    * for rate-limited backfills); applied by [[start]] to every source it
    * binds. Set per call, not global state. */
  private def streamJson(spark: SparkSession, inDir: String, topic: String,
                         schema: StructType,
                         options: Map[String, String]): DataFrame =
    spark.readStream.options(options).schema(schema).json(s"$inDir/$topic")

  private def staticJson(spark: SparkSession, inDir: String, topic: String,
                         schema: StructType): Option[(String, DataFrame)] = {
    val d = new File(s"$inDir/$topic")
    if (d.isDirectory) Some(topic -> spark.read.schema(schema).json(d.getPath)) else None
  }

  private def subTopics(inDir: String): Seq[String] = {
    val d = new File(inDir)
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
  }

  /** The one sink binding: one streaming query over `stream`, checkpointed
    * under `ckptDir/<name>`. Each micro-batch is computed once and `split`
    * into its topics; it is persisted only when it feeds more than one.
    *
    * Every topic commits through Spark's file-sink manifest
    * (`outDir/<topic>/_spark_metadata`), which downstream file sources read
    * and which skips a batch id the topic has already committed. A replay
    * after a partial fan-out (some topics committed, the query's commit log
    * not) therefore rewrites only the missing topics: exactly-once and atomic
    * visibility per topic (the binding is [[Io.jsonFileSink]]). Each topic is
    * written by one task per core rather than one per state partition; the
    * state partition count recorded in the checkpoint does not change. */
  private def fanOut(name: String, stream: DataFrame, outDir: String, ckptDir: String,
                     trigger: Trigger)(split: DataFrame => Map[String, DataFrame]): StreamingQuery = {
    val spark = stream.sparkSession
    Io.prepareStreaming(spark)
    // built at start, as `writeStream.format("json")` builds its sink: each
    // topic's directory and manifest exist before the first batch, so a
    // downstream app can bind to the topic right away
    val sinks = split(stream).keys.map(t => t -> Io.jsonFileSink(spark, s"$outDir/$t")).toMap
    stream.writeStream
      .option("checkpointLocation", s"$ckptDir/$name")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val topics = split(batch)
        val shared = topics.size > 1
        if (shared) batch.persist()
        try topics.toSeq.sortBy(_._1).foreach { case (topic, df) =>
          sinks(topic).addBatch(batchId, df.coalesce(spark.sparkContext.defaultParallelism))
        } finally if (shared) batch.unpersist()
      }
      .start()
  }

  /** Bind and launch one app's queries. Returns the started queries so callers
    * (and the checkpoint-restart spec) own their lifecycle; [[main]] awaits. */
  def start(spark: SparkSession, app: String, inDir: String, outDir: String,
            ckptDir: String, trigger: Trigger = Trigger.AvailableNow(),
            sourceOptions: Map[String, String] = Map.empty): Seq[StreamingQuery] = {
    // single-topic apps: the one-topic case of fanOut, under ckptDir/<topic>
    def sink(outputs: Map[String, DataFrame]) = outputs.toSeq.sortBy(_._1).map { case (topic, df) =>
      fanOut(topic, df, outDir, ckptDir, trigger)(batch => Map(topic -> batch))
    }
    def streamJson(spark: SparkSession, inDir: String, topic: String, schema: StructType) =
      Mains.streamJson(spark, inDir, topic, schema, sourceOptions)
    app match {
      case "base_log" =>
        Seq(fanOut("base_log", Apps.baseLogRepaired(Map("ods_base_log" ->
          spark.readStream.options(sourceOptions).text(s"$inDir/ods_base_log"))),
          outDir, ckptDir, trigger)(Apps.baseLogSplit))
      case "unique_visit" =>
        sink(Apps.uniqueVisit(Map(
          "dwd_page_log" -> streamJson(spark, inDir, "dwd_page_log", Wire.logEvent))))
      case "user_jump_detail" =>
        sink(Apps.userJumpDetail(Map(
          "dwd_page_log" -> streamJson(spark, inDir, "dwd_page_log", Wire.logEvent))))
      case "order_wide" =>
        val dims = Seq(
          staticJson(spark, inDir, "dim_user_info", Wire.userDim),
          staticJson(spark, inDir, "dim_base_province", Wire.provinceDim),
          staticJson(spark, inDir, "dim_sku_info", Wire.skuDim)).flatten.toMap
        sink(Apps.orderWide(Map(
          "dwd_order_info" -> streamJson(spark, inDir, "dwd_order_info", Wire.orderInfo),
          "dwd_order_detail" -> streamJson(spark, inDir, "dwd_order_detail", Wire.orderDetail))
          ++ dims))
      case "payment_wide" =>
        // a file-read dwm_order_wide carries no watermark (unlike the chained
        // in-process DF) — the stream-stream interval join needs one per side
        val owRaw = streamJson(spark, inDir, "dwm_order_wide", Wire.orderWide(spark))
        val ow = if (Apps.hasWatermark(owRaw)) owRaw else owRaw.withWatermark("i_time", "3 seconds")
        sink(Apps.paymentWide(Map(
          "dwd_payment_info" -> streamJson(spark, inDir, "dwd_payment_info", Wire.paymentInfo),
          "dwm_order_wide" -> ow)))
      case "visitor_stats" =>
        val deltas = subTopics(inDir)
          .map(t => t -> streamJson(spark, inDir, t, Wire.visitorDelta)).toMap
        require(deltas.nonEmpty, s"visitor_stats: no delta topic directories under $inDir")
        sink(Apps.visitorStats(deltas))
      case "product_stats" =>
        val dims = Seq(
          staticJson(spark, inDir, "dim_sku_info", Wire.skuDim),
          staticJson(spark, inDir, "dim_spu_info", Wire.spuDim),
          staticJson(spark, inDir, "dim_base_trademark", Wire.trademarkDim),
          staticJson(spark, inDir, "dim_base_category3", Wire.category3Dim)).flatten.toMap
        val deltas = (subTopics(inDir).toSet -- dims.keySet -- Set(
          "dim_sku_info", "dim_spu_info", "dim_base_trademark", "dim_base_category3"))
          .toSeq.sorted.map(t => t -> streamJson(spark, inDir, t, Wire.productDelta)).toMap
        require(deltas.nonEmpty, s"product_stats: no delta topic directories under $inDir")
        sink(Apps.productStats(deltas ++ dims))
      case "province_stats" =>
        sink(Apps.provinceStats(Map(
          "dwm_order_wide" -> streamJson(spark, inDir, "dwm_order_wide", Wire.orderWide(spark)))))
      case "keyword_stats" =>
        sink(Apps.keywordStats(Map(
          "dwd_page_log" -> streamJson(spark, inDir, "dwd_page_log", Wire.logEvent))))
      case "keyword_stats_product" =>
        sink(Apps.keywordStats4Product(Map(
          "dws_product_stats" ->
            streamJson(spark, inDir, "dws_product_stats", Wire.productStats(spark)))))
      case "base_db" =>
        // facts → manifest-committed dynamic-topic dir, dims → keyed upsert
        // stores: the composed router sink (CdcRouter.run) with the config
        // re-read per micro-batch
        val cdc = streamJson(spark, inDir, "ods_base_db_m", CdcRouter.envelopeSchema)
        Seq(CdcRouter.run(spark, cdc,
          () => spark.read.schema(CdcRouter.configSchema).json(s"$inDir/table_process"),
          factDir = s"$outDir/kafka_facts", dimDir = s"$outDir/hbase_dims",
          checkpoint = s"$ckptDir/base_db", trigger = trigger))
      case other =>
        throw new IllegalArgumentException(
          s"unknown app '$other' — one of: ${appNames.mkString(", ")}")
    }
  }

  /** [[main]]'s arguments: `<app> <inDir> <outDir> <ckptDir> [<interval>]`.
    * Without an interval the app drains what is present and exits
    * (AvailableNow); with one (e.g. `"10 seconds"`) it runs 24×7 on that
    * processing-time trigger. */
  def parseArgs(args: Array[String]): (String, String, String, String, Trigger) = {
    require(args.length == 4 || args.length == 5,
      "usage: graft.apps.Mains <app> <inDir> <outDir> <ckptDir> [<interval>, e.g. \"10 seconds\": " +
        "run 24x7 on that processing-time trigger; default: drain and exit]")
    val trigger = if (args.length == 5) Trigger.ProcessingTime(args(4)) else Trigger.AvailableNow()
    (args(0), args(1), args(2), args(3), trigger)
  }

  def main(args: Array[String]): Unit = {
    val (app, inDir, outDir, ckptDir, trigger) = parseArgs(args)
    val builder = SparkSession.builder()
      .appName(s"graft-$app")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
    // spark-submit provides the master; standalone runs default to local
    val spark =
      (if (sys.props.contains("spark.master")) builder else builder.master("local[*]"))
        .getOrCreate()
    start(spark, app, inDir, outDir, ckptDir, trigger).foreach(_.awaitTermination())
  }
}

// One thin launchable object per reference app (spark-submit --class targets).
object BaseLogApp { def main(a: Array[String]): Unit = Mains.main("base_log" +: a) }
object UniqueVisitApp { def main(a: Array[String]): Unit = Mains.main("unique_visit" +: a) }
object UserJumpDetailApp { def main(a: Array[String]): Unit = Mains.main("user_jump_detail" +: a) }
object OrderWideApp { def main(a: Array[String]): Unit = Mains.main("order_wide" +: a) }
object PaymentWideApp { def main(a: Array[String]): Unit = Mains.main("payment_wide" +: a) }
object VisitorStatsApp { def main(a: Array[String]): Unit = Mains.main("visitor_stats" +: a) }
object ProductStatsApp { def main(a: Array[String]): Unit = Mains.main("product_stats" +: a) }
object ProvinceStatsApp { def main(a: Array[String]): Unit = Mains.main("province_stats" +: a) }
object KeywordStatsApp { def main(a: Array[String]): Unit = Mains.main("keyword_stats" +: a) }
object KeywordStats4ProductApp { def main(a: Array[String]): Unit = Mains.main("keyword_stats_product" +: a) }
object BaseDbApp { def main(a: Array[String]): Unit = Mains.main("base_db" +: a) }
