package graft.streaming

import java.io.File

import scala.jdk.CollectionConverters._

import graft.SparkSuite
import graft.io.Io
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}

class CdcRouterSpec extends SparkSuite {

  private def cfg() = {
    import spark.implicits._
    Seq(
      ("order_info", "insert", "kafka", "dwd_order_info", "id,user_id,total_amount", null.asInstanceOf[String]),
      ("user_info", "insert", "hbase", "dim_user_info", "id,name", "id"),
      ("user_info", "update", "hbase", "dim_user_info", "id,name", "id"))
      .toDF("source_table", "operate_type", "sink_type", "sink_table", "sink_columns", "sink_pk")
  }

  test("route: normalizes bootstrap-insert, prunes to sink_columns, tags topic") {
    import spark.implicits._
    val records = Seq(
      ("gmall", "order_info", "bootstrap-insert", 1L,
        """{"id":"1","user_id":"7","total_amount":"99.5","secret":"x"}"""),
      ("gmall", "user_info", "insert", 2L, """{"id":"5","name":"a","phone":"123"}"""),
      ("gmall", "unknown_table", "insert", 3L, """{"id":"9"}"""))
      .toDF("database", "table", "type", "ts", "data")
    val routed = CdcRouter.route(CdcRouter.validRecords(records), cfg().collect().toSeq).collect()
    assert(routed.length == 2, "unconfigured tables are dropped")
    val fact = routed.find(_.getAs[String]("sink_type") == "kafka").get
    assert(fact.getAs[String]("topic") == "dwd_order_info")
    assert(!fact.getAs[String]("value").contains("secret"), "pruned column must not leak")
    assert(fact.getAs[String]("value").contains("user_id"))
    val dim = routed.find(_.getAs[String]("sink_type") == "hbase").get
    assert(dim.getAs[String]("sink_pk") == "id")
    assert(!dim.getAs[String]("value").contains("phone"))
  }

  test("same-key records within ONE micro-batch keep only the latest (by ts)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = tempDir("cdc-dup")
    val ms = MemoryStream[(String, String, String, Long, String)]
    ms.addData(
      ("gmall", "user_info", "insert", 1L, """{"id":"5","name":"first"}"""),
      ("gmall", "user_info", "update", 2L, """{"id":"5","name":"second"}"""))
    val q = CdcRouter.run(spark, ms.toDF().toDF("database", "table", "type", "ts", "data"),
      cfg _, s"$tmp/facts", s"$tmp/dims", s"$tmp/ckpt")
    q.awaitTermination()
    val rows = spark.read.parquet(s"$tmp/dims/dim_user_info").collect()
    assert(rows.length == 1, s"one row per pk after intra-batch dedup: ${rows.toSeq}")
    assert(rows.head.getAs[String]("value").contains("second"), "latest ts wins")
  }

  test("config hot-reload: a batch sees the config as of ITS trigger (5s-timer parity)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = tempDir("cdc-reload")
    // mutable provider — the per-batch re-read that replaces the reference's
    // MySQL polling Timer (TableProcessFunction.java:51-60)
    var sinkTable = "dwd_order_info_v1"
    def provider() = Seq(
      ("order_info", "insert", "kafka", sinkTable, "id", null.asInstanceOf[String]))
      .toDF("source_table", "operate_type", "sink_type", "sink_table", "sink_columns", "sink_pk")

    // one query restarted on its checkpoint: the fact sink's manifest binds
    // `facts` to this query's batch ids
    val ms = MemoryStream[(String, String, String, Long, String)]
    def runOnce() = CdcRouter.run(spark, ms.toDF().toDF("database", "table", "type", "ts", "data"),
      provider _, s"$tmp/facts", s"$tmp/dims", s"$tmp/ckpt").awaitTermination()
    ms.addData(("gmall", "order_info", "insert", 1L, """{"id":"1"}"""))
    runOnce()

    sinkTable = "dwd_order_info_v2" // config change between triggers
    ms.addData(("gmall", "order_info", "insert", 2L, """{"id":"2"}"""))
    runOnce()

    val topics = spark.read.json(s"$tmp/facts").select("topic").collect().map(_.getString(0)).sorted
    assert(topics.toSeq == Seq("dwd_order_info_v1", "dwd_order_info_v2"),
      s"each batch must route by its trigger-time config: ${topics.toSeq}")
  }

  test("end-to-end: facts land per-topic, dims upsert with last-writer-wins") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = tempDir("cdc")
    val ms = MemoryStream[(String, String, String, Long, String)]
    val cdc = ms.toDF().toDF("database", "table", "type", "ts", "data")
    ms.addData(
      ("gmall", "order_info", "insert", 1L, """{"id":"1","user_id":"7","total_amount":"9.5"}"""),
      ("gmall", "user_info", "insert", 2L, """{"id":"5","name":"alice"}"""),
      ("gmall", "user_info", "insert", 3L, """{"id":"6","name":"bob"}"""))
    val q1 = CdcRouter.run(spark, cdc, cfg _, s"$tmp/facts", s"$tmp/dims", s"$tmp/ckpt")
    q1.awaitTermination()
    // second batch: update an existing dim row
    val ms2 = MemoryStream[(String, String, String, Long, String)]
    ms2.addData(("gmall", "user_info", "update", 4L, """{"id":"5","name":"alice2"}"""))
    val q2 = CdcRouter.run(spark, ms2.toDF().toDF("database", "table", "type", "ts", "data"),
      cfg _, s"$tmp/facts", s"$tmp/dims", s"$tmp/ckpt2")
    q2.awaitTermination()

    val facts = spark.read.json(s"$tmp/facts")
    assert(facts.count() == 1)
    assert(facts.select("topic").head.getString(0) == "dwd_order_info")
    val dims = spark.read.parquet(s"$tmp/dims/dim_user_info")
    val byId = dims.collect().map(r => r.getAs[String]("id") -> r.getAs[String]("value")).toMap
    assert(byId.keySet == Set("5", "6"))
    assert(byId("5").contains("alice2"), s"upsert must win: ${byId("5")}")
  }

  private type Cdc = (String, String, String, Long, String)

  private def config(rows: (String, String, String, String, String, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("source_table", "operate_type", "sink_type", "sink_table", "sink_columns", "sink_pk")
  }

  private def router(ms: MemoryStream[Cdc], cfg: () => DataFrame, tmp: String): StreamingQuery =
    CdcRouter.run(spark, ms.toDF().toDF("database", "table", "type", "ts", "data"),
      cfg, s"$tmp/facts", s"$tmp/dims", s"$tmp/ckpt")

  private def newStream(): MemoryStream[Cdc] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    MemoryStream[Cdc]
  }

  test("route's config lookup gives exactly the rows of an inner join on (table, type)") {
    import spark.implicits._
    val records = CdcRouter.validRecords(Seq(
      ("gmall", "order_info", "insert", 1L, """{"id":"1","user_id":"7"}"""),
      ("gmall", "order_info", "bootstrap-insert", 2L, """{"id":"2","user_id":"8"}"""),
      ("gmall", "user_info", "update", 3L, """{"id":"5","name":"a"}"""),
      ("gmall", "user_info", null, 4L, """{"id":"6","name":"b"}"""),
      ("gmall", "sku_info", "insert", 5L, """{"id":"9","sku_name":"s"}"""))
      .toDF("database", "table", "type", "ts", "data"))
    val cfg = config(
      ("order_info", "insert", "kafka", "dwd_order_info", "id,user_id", null),
      ("order_info", "insert", "kafka", "dwd_order_audit", "id", null), // a second sink for the pair
      ("user_info", "update", "hbase", "dim_user_info", "", "id"),
      ("user_info", null, "hbase", "dim_user_info", "id,name", "id"),
      (null, "insert", "kafka", "dwd_orphan", "id", null))
    val joined = records
      .withColumn("type", when(col("type") === "bootstrap-insert", "insert").otherwise(col("type")))
      .join(cfg, col("table") === col("source_table") && col("type") === col("operate_type"))
      .select(col("sink_type"), col("sink_table"), coalesce(col("sink_pk"), lit("id")), col("ts"))
    val routed = CdcRouter.route(records, cfg.collect().toSeq)
    def lines(df: DataFrame) = df.collect().map(_.mkString("|")).sorted.toSeq
    assert(lines(routed.select("sink_type", "sink_table", "sink_pk", "ts")) == lines(joined))
    assert(lines(joined).size == 5, "2 order_info records x 2 sinks + 1 user_info update")
    assert(routed.filter(col("ts") === 3L).select("value").head().getString(0) == """{"id":"5","name":"a"}""",
      "an empty sink_columns keeps every column")
  }

  /** Every row of a dim store, all columns, as sorted JSON lines. */
  private def storeRows(path: String): Seq[String] = {
    val d = Io.readDim(spark, path)
    d.select(to_json(struct(d.columns.sorted.toSeq.map(col): _*)))
      .collect().map(_.getString(0)).sorted.toSeq
  }

  test("a batch replayed after its commit entry is lost leaves kafka_facts and every dim store unchanged") {
    val tmp = tempDir("cdc-replay")
    val ms = newStream()
    ms.addData(
      ("gmall", "order_info", "insert", 1L, """{"id":"1","user_id":"7","total_amount":"9.5"}"""),
      ("gmall", "order_info", "insert", 2L, """{"id":"2","user_id":"8","total_amount":"1.5"}"""),
      ("gmall", "user_info", "insert", 3L, """{"id":"5","name":"alice"}"""),
      ("gmall", "user_info", "update", 4L, """{"id":"5","name":"alice2"}"""),
      ("gmall", "user_info", "insert", 5L, """{"id":"6","name":"bob"}"""))
    router(ms, cfg _, tmp).awaitTermination()
    def facts() = spark.read.json(s"$tmp/facts").select("topic", "value")
      .collect().map(_.mkString("|")).sorted.toSeq
    val (factsBefore, dimBefore) = (facts(), storeRows(s"$tmp/dims/dim_user_info"))
    assert(factsBefore.size == 2 && dimBefore.size == 2)

    // a crash after the sinks wrote batch 0 but before its commit entry
    Seq("0", ".0.crc").foreach(f => new File(s"$tmp/ckpt/commits/$f").delete())
    router(ms, cfg _, tmp).awaitTermination()
    assert(facts() == factsBefore, "the replayed batch must not append its facts again")
    assert(storeRows(s"$tmp/dims/dim_user_info") == dimBefore)
  }

  test("a dim table whose config rows name two sink_pks is refused before any write") {
    val tmp = tempDir("cdc-twopk")
    val ms = newStream()
    ms.addData(
      ("gmall", "order_info", "insert", 1L, """{"id":"1","user_id":"7","total_amount":"9.5"}"""),
      ("gmall", "user_info", "insert", 2L, """{"id":"5","uid":"u5","name":"a"}"""))
    def twoPks() = config(
      ("order_info", "insert", "kafka", "dwd_order_info", "id,user_id,total_amount", null),
      ("user_info", "insert", "hbase", "dim_user_info", "id,uid,name", "id"),
      ("user_info", "update", "hbase", "dim_user_info", "id,uid,name", "uid"))
    val err = intercept[StreamingQueryException](router(ms, twoPks _, tmp).awaitTermination())
    assert(err.getCause.isInstanceOf[IllegalArgumentException], err.getCause)
    assert(err.getCause.getMessage.contains("dim_user_info"), err.getCause.getMessage)
    assert(Option(new File(s"$tmp/facts").list()).toSeq.flatten.forall(_ == "_spark_metadata"),
      "no fact was written")
    assert(!new File(s"$tmp/dims").exists(), "no dim store was written")
  }

  test("a configured dim table with no rows in the batch gets no store and no _buckets marker") {
    val tmp = tempDir("cdc-nomarker")
    val ms = newStream()
    ms.addData(("gmall", "user_info", "insert", 1L, """{"id":"5","name":"a"}"""))
    def twoDims() = config(
      ("user_info", "insert", "hbase", "dim_user_info", "id,name", "id"),
      ("sku_info", "insert", "hbase", "dim_sku_info", "id,sku_name", "id"))
    router(ms, twoDims _, tmp).awaitTermination()
    assert(Io.dimStoreHasData(s"$tmp/dims/dim_user_info"))
    assert(!new File(s"$tmp/dims/dim_sku_info").exists(),
      "a marker-only store would make Io.readDim throw")
  }

  test("a micro-batch runs as many Spark jobs with 5 dim tables as with 2") {
    def jobsFor(tables: Int): Int = {
      val tmp = tempDir(s"cdc-jobs$tables")
      val ms = newStream()
      ms.addData(("gmall", "order_info", "insert", 1L, """{"id":"1","user_id":"7"}""") +:
        (1 to tables).flatMap(t => (1 to 3).map(k =>
          ("gmall", s"t$t", "insert", k.toLong, s"""{"id":"$k","name":"n$t-$k"}"""))): _*)
      def cfgN() = config(
        ("order_info", "insert", "kafka", "dwd_order_info", "id,user_id", null) +:
          (1 to tables).map(t => (s"t$t", "insert", "hbase", s"dim_t$t", "id,name", "id")): _*)
      val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val q = router(ms, cfgN _, tmp)
        q.awaitTermination()
        ListenerBusDrain(spark.sparkContext)
        assert((1 to tables).forall(t => Io.readDim(spark, s"$tmp/dims/dim_t$t").count() == 3))
        groups.asScala.count(_ == q.runId.toString)
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val (two, five) = (jobsFor(2), jobsFor(5))
    assert(two > 0, "the listener must see the batch's jobs")
    assert(two == five, s"jobs per micro-batch: $two with 2 dim tables, $five with 5")
    // the facts write, then the dim merge's touched-bucket collect, shuffle
    // and bucket write; the config is a literal lookup, not a broadcast job
    assert(two == 4, s"jobs per micro-batch: $two")
  }

  test("a batch touching one bucket of each of two stores with different sink_pks rewrites only those buckets") {
    val tmp = tempDir("cdc-buckets")
    val ms = newStream()
    def twoKeys() = config(
      ("user_info", "insert", "hbase", "dim_user_info", "id,name", "id"),
      ("user_info", "update", "hbase", "dim_user_info", "id,name", "id"),
      ("sku_info", "insert", "hbase", "dim_sku_info", "code,sku_name", "code"),
      ("sku_info", "update", "hbase", "dim_sku_info", "code,sku_name", "code"))
    ms.addData((1 to 40).flatMap(i => Seq(
      ("gmall", "user_info", "insert", 1L, s"""{"id":"$i","name":"u$i"}"""),
      ("gmall", "sku_info", "insert", 1L, s"""{"code":"c$i","sku_name":"s$i"}"""))): _*)
    router(ms, twoKeys _, tmp).awaitTermination()
    val stores = Seq("dim_user_info", "dim_sku_info").map(t => s"$tmp/dims/$t")
    def bucketFiles(store: String): Map[String, Set[String]] =
      new File(store).listFiles().filter(_.getName.startsWith("__bucket="))
        .map(d => d.getName -> d.listFiles().map(f => s"${f.getName}:${f.lastModified()}").toSet)
        .toMap
    val before = stores.map(bucketFiles)
    assert(before.forall(_.size == 8), "40 keys spread over all 8 buckets of each store")

    ms.addData(
      ("gmall", "user_info", "update", 2L, """{"id":"7","name":"u7b"}"""),
      ("gmall", "sku_info", "update", 2L, """{"code":"c9","sku_name":"s9b"}"""))
    router(ms, twoKeys _, tmp).awaitTermination()
    val touched = Seq("7", "c9").map(k =>
      s"__bucket=" + spark.sql(s"select pmod(xxhash64('$k'), 8L)").head.getLong(0))
    stores.indices.foreach { i =>
      val after = bucketFiles(stores(i))
      assert(after(touched(i)) != before(i)(touched(i)), s"${stores(i)}: the touched bucket is rewritten")
      (before(i).keySet - touched(i)).foreach { b =>
        assert(after(b) == before(i)(b), s"${stores(i)}: untouched $b must keep its file")
      }
      assert(after.values.forall(_.count(_.contains(".parquet:")) == 1), "one file per bucket dir")
    }
    val users = Io.readDim(spark, stores(0)).collect()
      .map(r => r.getAs[String]("id") -> r.getAs[String]("value")).toMap
    val skus = Io.readDim(spark, stores(1)).collect()
      .map(r => r.getAs[String]("code") -> r.getAs[String]("value")).toMap
    assert(users.size == 40 && users("7").contains("u7b") && users("8").contains("u8"))
    assert(skus.size == 40 && skus("c9").contains("s9b") && skus("c7").contains("s7"))
  }
}
