package graft.streaming

import graft.io.Io
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Config-driven CDC router (A15, TableProcessFunction.java:160-199 +
  * BaseDBApp.java:28-68): route Maxwell-style changelog records to fact topics
  * or dimension tables according to a `table_process` config table.
  *
  * Reference semantics reproduced:
  *  - routing key is (table, type), with `bootstrap-insert` normalized to
  *    `insert` (TableProcessFunction.java:166-170);
  *  - config-driven column pruning via the sinkColumns CSV
  *    (TableProcessFunction.java:202-219);
  *  - facts get a `topic` column = sink_table (dynamic Kafka routing, A3);
  *  - dims upsert into per-table stores keyed by sink_pk (A6);
  *  - the reference's 5 s config-refresh Timer becomes re-reading the config
  *    per micro-batch inside foreachBatch — same freshness at trigger cadence,
  *    no extra thread.
  *
  * Scale: the config table is tiny → collected once per batch and looked up
  * as a literal in the records' own stage: no join, no broadcast job, no
  * shuffle on the CDC stream. Every dim table of the
  * batch is upserted in ONE [[Io.upsertDims]] merge, so a micro-batch runs a
  * fixed number of Spark jobs, however many dim tables the config names.
  * Facts commit through the file-sink manifest ([[Io.jsonFileSink]]), so a
  * batch replayed after its fact write adds no fact twice; the dim upsert is
  * idempotent on replay by itself.
  */
object CdcRouter {

  /** Maxwell-style envelope (FIXTURES.md §2); `data` stays a raw JSON string
    * because its schema is per-table (config-driven). */
  val envelopeSchema: StructType = StructType(Seq(
    StructField("database", StringType),
    StructField("table", StringType),
    StructField("type", StringType),
    StructField("ts", LongType),
    StructField("data", StringType)))

  val configSchema: StructType = StructType(Seq(
    StructField("source_table", StringType),
    StructField("operate_type", StringType),
    StructField("sink_type", StringType),
    StructField("sink_table", StringType),
    StructField("sink_columns", StringType),
    StructField("sink_pk", StringType)))

  /** Validity filter (A11, BaseDBApp.java:44-48). */
  def validRecords(parsed: DataFrame): DataFrame =
    parsed.filter(col("table").isNotNull && col("data").isNotNull && length(col("data")) > 3)

  /** One config row's sink, as [[route]] looks it up. */
  private case class Sink(sink_type: String, sink_table: String, sink_columns: String,
                          sink_pk: String)

  /** Pure routing step: normalize type, look up the (collected) config rows
    * of `configSchema`, prune columns. Returns rows with (sink_type,
    * sink_table, sink_pk, topic, value) where `value` is the pruned JSON
    * payload.
    *
    * The lookup is a literal map `source_table → operate_type → sinks`, so a
    * record yields exactly the rows an inner join on (table, type) would: one
    * per matching config row (two for a pair two rows name), none for an
    * unconfigured or null pair. */
  def route(records: DataFrame, config: Seq[Row]): DataFrame = {
    val sinks = config
      .filter(r => r.getAs[String]("source_table") != null && r.getAs[String]("operate_type") != null)
      .groupBy(_.getAs[String]("source_table")).map { case (table, rows) =>
        table -> rows.groupBy(_.getAs[String]("operate_type")).map { case (op, ops) =>
          op -> ops.map(r => Sink(r.getAs("sink_type"), r.getAs("sink_table"),
            r.getAs("sink_columns"), r.getAs("sink_pk")))
        }
      }
    val normalized = records.withColumn("type",
      when(col("type") === "bootstrap-insert", "insert").otherwise(col("type")))
    // config-driven pruning is done relationally: parse data as map, filter keys
    val asMap = normalized.withColumn("kv",
      from_json(col("data"), MapType(StringType, StringType)))
    asMap
      .select(col("*"), inline(typedLit(sinks).apply(col("table"))(col("type"))))
      .withColumn("keep", split(col("sink_columns"), ","))
      .withColumn("kv_pruned",
        when(col("sink_columns").isNull || col("sink_columns") === "", col("kv"))
          .otherwise(map_filter(col("kv"), (k, _) => array_contains(col("keep"), k))))
      .select(
        col("sink_type"), col("sink_table"),
        coalesce(col("sink_pk"), lit("id")).as("sink_pk"),
        col("sink_table").as("topic"),
        to_json(col("kv_pruned")).as("value"),
        col("kv_pruned"), col("ts"))
  }

  /** The dim stores the config rows name: sink_table → `dimDir/<sink_table>`
    * keyed by its sink_pk (`id` when unset, as in [[route]]). One store has
    * one key column, so a table whose config rows name two sink_pks is
    * refused. */
  private def dimStores(config: Seq[Row], dimDir: String): Map[String, Io.DimStore] =
    config.filter(_.getAs[String]("sink_type") == "hbase")
      .groupBy(_.getAs[String]("sink_table"))
      .map { case (table, rows) =>
        val pks = rows.map(r => Option(r.getAs[String]("sink_pk")).getOrElse("id")).distinct.sorted
        if (pks.size > 1)
          throw new IllegalArgumentException(
            s"CdcRouter: dim table $table is configured with sink_pk ${pks.mkString(" and ")}; " +
              "its config rows must name one key column")
        table -> Io.DimStore(s"$dimDir/$table", pks.head)
      }

  /** End-to-end streaming router: facts → the dynamic-topic sink dir
    * `factDir/topic=<t>`, dims → per-table parquet upsert stores under
    * `dimDir` (their files hold one key column per distinct dim sink_pk of
    * the config, `value` and `ts`). `configProvider` is re-invoked every
    * micro-batch (the 5 s Timer equivalent). The default trigger drains what
    * is present and stops; a 24×7 deployment passes a processing-time one. */
  def run(spark: SparkSession, cdc: DataFrame, configProvider: () => DataFrame,
          factDir: String, dimDir: String, checkpoint: String,
          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    Io.prepareStreaming(spark)
    val facts = Io.jsonFileSink(spark, factDir, Seq("topic"))
    cdc.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val config = configProvider().collect().toSeq
        val dims = dimStores(config, dimDir)
        val routed = route(validRecords(batch), config).cache()
        try {
          facts.addBatch(batchId,
            routed.filter(col("sink_type") === "kafka").select("topic", "value"))
          if (dims.nonEmpty) {
            val keys = dims.values.map(_.pk).toSeq.distinct.sorted
            val rows = routed.filter(col("sink_type") === "hbase").select(col("sink_table") +:
              keys.map(k => when(col("sink_pk") === k, col("kv_pruned")(k)).as(k)) :+
              col("value") :+ col("ts"): _*)
            // envelope ts orders same-key records within the batch (last wins)
            Io.upsertDims(spark, rows, "sink_table", dims, orderCol = "ts")
          }
        } finally routed.unpersist()
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
  }
}
