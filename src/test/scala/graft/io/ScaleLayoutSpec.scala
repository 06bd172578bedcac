package graft.io

import graft.{SparkSuite, Tables}
import org.apache.spark.sql.functions._

/** Data-layout features that carry the 100 TB design: partition pruning and
  * bucketed (pre-shuffled) joins. These are plan assertions — the point is
  * what the scan/join DOESN'T do (read other partitions; shuffle). */
class ScaleLayoutSpec extends SparkSuite {

  test("partitioned write → partition-pruned read (PartitionFilters, not a scan filter)") {
    val tmp = tempDir("part")
    val events = Tables.load(spark, sf0001, "events")
      .withColumn("dt", date_format(col("event_time"), "yyyy-MM-dd"))
    Io.writePartitioned(events, s"$tmp/events_by_dt", Seq("dt"))

    val dirs = new java.io.File(s"$tmp/events_by_dt").listFiles()
      .filter(_.getName.startsWith("dt=")).map(_.getName)
    assert(dirs.length > 1, s"one directory per day expected: ${dirs.toSeq}")

    val read = spark.read.parquet(s"$tmp/events_by_dt").filter(col("dt") === "2024-01-02")
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(dt"), plan)
    val expected = events.filter(col("dt") === "2024-01-02").count()
    assert(read.count() == expected && expected > 0)
  }

  test("csvSource round-trips a config table with explicit schema") {
    import org.apache.spark.sql.types._
    val tmp = tempDir("csv")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$tmp/cfg.csv"),
      "order_info,insert,kafka,dwd_order_info,id,\nuser_info,insert,hbase,dim_user_info,\"id,name\",id\n")
    val schema = StructType(Seq("source_table", "operate_type", "sink_type",
      "sink_table", "sink_columns", "sink_pk").map(StructField(_, StringType)))
    val cfg = Io.csvSource(spark, tmp, schema)
    assert(cfg.count() == 2)
    val dim = cfg.filter(col("sink_type") === "hbase").head
    assert(dim.getAs[String]("sink_columns") == "id,name", "quoted CSV field parses")
    assert(dim.getAs[String]("sink_pk") == "id")
  }

  test("upsertDim rewrites ONLY the hash-buckets the batch touches") {
    import spark.implicits._
    val dir = tempDir("dim-bucket") + "/store"
    // seed: keys spread over buckets
    val seed = (1 to 40).map(i => (i.toString, s"v$i", 1L)).toDF("id", "value", "ts")
    Io.upsertDim(spark, seed, dir, "id", "ts")
    val bucketDirs = new java.io.File(dir).listFiles().filter(_.getName.startsWith("__bucket="))
    assert(bucketDirs.length > 1, "keys spread across multiple buckets")
    def filesOf(d: java.io.File): Set[String] =
      d.listFiles().map(f => f.getName + ":" + f.lastModified()).toSet
    val before = bucketDirs.map(d => d.getName -> filesOf(d)).toMap

    // update ONE key — only its bucket may change
    val touchedBucket = spark.sql(
      "select pmod(xxhash64(cast('7' as string)), 8L)").head.getLong(0)
    Io.upsertDim(spark, Seq(("7", "v7b", 2L)).toDF("id", "value", "ts"), dir, "id", "ts")
    val after = new java.io.File(dir).listFiles().filter(_.getName.startsWith("__bucket="))
      .map(d => d.getName -> filesOf(d)).toMap
    assert(after(s"__bucket=$touchedBucket") != before(s"__bucket=$touchedBucket"),
      "the touched bucket was rewritten")
    (before.keySet - s"__bucket=$touchedBucket").foreach { b =>
      assert(after(b) == before(b), s"untouched bucket $b must not be rewritten")
    }
    // content contract unchanged: last writer wins, other keys intact
    val rows = Io.readDim(spark, dir).collect()
      .map(r => r.getAs[String]("id") -> r.getAs[String]("value")).toMap
    assert(rows.size == 40 && rows("7") == "v7b" && rows("8") == "v8")

    // the bucket count is pinned by the store's marker: an upsert configured
    // with a DIFFERENT count must still route by the original layout (a
    // mis-routed key would land in a second bucket and duplicate)
    Io.upsertDim(spark, Seq(("7", "v7c", 3L)).toDF("id", "value", "ts"), dir, "id", "ts",
      buckets = 3)
    val rows2 = Io.readDim(spark, dir).collect()
      .map(r => r.getAs[String]("id") -> r.getAs[String]("value")).toMap
    assert(rows2.size == 40 && rows2("7") == "v7c",
      "marker-pinned layout: no duplicate key despite the mismatched buckets param")
  }

  test("rebucketDim migrates the layout losslessly and later upserts route by the NEW marker") {
    import spark.implicits._
    val dir = tempDir("dim-rebucket") + "/store"
    val seed = (1 to 40).map(i => (i.toString, s"v$i", 1L)).toDF("id", "value", "ts")
    Io.upsertDim(spark, seed, dir, "id", "ts", buckets = 4)
    // a stale crash-leftover tmp from an aborted migration must not block
    new java.io.File(dir + ".rebucket_tmp").mkdirs()

    Io.rebucketDim(spark, dir, "id", newBuckets = 8)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "_buckets")).trim == "8", "marker updated")
    val rows = Io.readDim(spark, dir).collect()
      .map(r => r.getAs[String]("id") -> r.getAs[String]("value")).toMap
    assert(rows.size == 40 && rows("7") == "v7", "migration is lossless")
    // every key sits in the bucket the NEW count hashes it to — the property
    // that makes later upserts find it (a mis-placed key would duplicate)
    val bucketOf = (1 to 40).map { i =>
      i.toString -> spark.sql(
        s"select pmod(xxhash64(cast('$i' as string)), 8L)").head.getLong(0)
    }.toMap
    new java.io.File(dir).listFiles().filter(_.getName.startsWith("__bucket=")).foreach { d =>
      val b = d.getName.stripPrefix("__bucket=").toLong
      spark.read.parquet(d.getPath).select("id").collect().map(_.getString(0)).foreach { id =>
        assert(bucketOf(id) == b, s"key $id in bucket $b, expected ${bucketOf(id)}")
      }
    }
    // and the migrated store keeps the upsert contract: update one key,
    // last-writer-wins, no duplicates
    Io.upsertDim(spark, Seq(("7", "v7b", 2L)).toDF("id", "value", "ts"), dir, "id", "ts")
    val rows2 = Io.readDim(spark, dir).collect()
      .map(r => r.getAs[String]("id") -> r.getAs[String]("value")).toMap
    assert(rows2.size == 40 && rows2("7") == "v7b")
  }

  test("rewriteDim shrinks a store in place, tolerates a stale tmp, refuses an empty replacement, keeps the upsert contract") {
    import spark.implicits._
    val dir = tempDir("dim-rewrite") + "/store"
    val seed = (1 to 40).map(i => (i.toString, s"v$i", 1L)).toDF("id", "value", "ts")
    Io.upsertDim(spark, seed, dir, "id", "ts", buckets = 4)
    // a stale crash-leftover tmp from an aborted rewrite must not block
    new java.io.File(dir + ".rewrite_tmp").mkdirs()

    // shrink to the even keys only — the operation upsertDim cannot express
    val keep = (2 to 40 by 2).map(i => (i.toString, s"v$i", 1L)).toDF("id", "value", "ts")
    Io.rewriteDim(spark, dir, "id", keep)
    val rows = Io.readDim(spark, dir).collect()
      .map(r => r.getAs[String]("id") -> r.getAs[String]("value")).toMap
    assert(rows.size == 20 && rows.keySet.forall(_.toInt % 2 == 0),
      "the rewrite must replace the content wholesale (odd keys gone)")
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "_buckets")).trim == "4",
      "the bucket-count marker survives the swap")
    // every surviving key still routes by the preserved marker — the
    // property that keeps the store a live upsert target
    Io.upsertDim(spark, Seq(("2", "v2b", 2L)).toDF("id", "value", "ts"), dir, "id", "ts")
    val rows2 = Io.readDim(spark, dir).collect()
      .map(r => r.getAs[String]("id") -> r.getAs[String]("value")).toMap
    assert(rows2.size == 20 && rows2("2") == "v2b",
      "post-rewrite upserts must merge, not duplicate")
    // an empty replacement must be refused (a marker-only store wedges
    // readers) and must leave the live store untouched
    val err = intercept[IllegalArgumentException] {
      Io.rewriteDim(spark, dir, "id",
        seed.filter(col("id") === "none-such"))
    }
    assert(err.getMessage.contains("EMPTY replacement"), err.getMessage)
    assert(Io.readDim(spark, dir).count() == 20,
      "a refused rewrite must not have touched the live store")
    assert(!new java.io.File(dir + ".rewrite_tmp").exists(),
      "a refused rewrite must clean its tmp, not strand it next to the store")
  }

  test("upsertDim writes ALL touched buckets in ONE job (no per-bucket job loop)") {
    import spark.implicits._
    val dir = tempDir("dim-onejob") + "/store"
    val seed = (1 to 40).map(i => (i.toString, s"v$i", 1L)).toDF("id", "value", "ts")
    Io.upsertDim(spark, seed, dir, "id", "ts")
    val bucketDirs = new java.io.File(dir).listFiles().filter(_.getName.startsWith("__bucket="))
    assert(bucketDirs.length > 4, "the batch spreads over most buckets")

    // Job count must NOT grow with the touched-bucket count: the old shape ran
    // ≥1 read + 1 write job PER bucket; the one-job merge runs a constant set
    // (dedup/touched collect, mergeSchema footer read, ONE partitioned write,
    // plus fixed AQE stage jobs) whether the batch hits 1 bucket or all 8.
    val sc = spark.sparkContext
    def countJobs(group: String)(f: => Unit): Int = {
      sc.setJobGroup(group, group)
      try f finally sc.clearJobGroup()
      sc.statusTracker.getJobIdsForGroup(group).length
    }
    val jobsOne = countJobs("upsert-1bucket") {
      Io.upsertDim(spark, Seq(("7", "w7", 2L)).toDF("id", "value", "ts"), dir, "id", "ts")
    }
    val jobsAll = countJobs("upsert-8buckets") {
      Io.upsertDim(spark, (1 to 40).map(i => (i.toString, s"w$i", 3L)).toDF("id", "value", "ts"),
        dir, "id", "ts")
    }
    assert(jobsAll <= jobsOne + 1,
      s"job count must be constant in touched buckets: 1-bucket=$jobsOne, 8-bucket=$jobsAll")

    // layout preserved: still one parquet file per bucket dir, values updated
    new java.io.File(dir).listFiles().filter(_.getName.startsWith("__bucket=")).foreach { d =>
      assert(d.listFiles().count(_.getName.endsWith(".parquet")) == 1,
        s"one file per bucket expected in ${d.getName}")
    }
    val rows = Io.readDim(spark, dir).collect()
      .map(r => r.getAs[String]("id") -> r.getAs[String]("value")).toMap
    assert(rows.size == 40 && rows("7") == "w7" && rows("40") == "w40")
  }

  test("upsertDims refuses, before any publish, a write whose buckets differ from the touched set") {
    import spark.implicits._
    val dir = tempDir("dim-lineage") + "/store"
    def bucket(k: String) = spark.sql(s"select pmod(xxhash64('$k'), 8L)").head.getLong(0)
    val (first, second) = ("1", (2 to 20).map(_.toString).find(k => bucket(k) != bucket("1")).get)
    // an uncached, nondeterministic lineage: the touched collect sees `first`,
    // the write recomputes the batch and sees `second`
    ScaleLayoutSpec.calls.set(0)
    val flip = udf(() => if (ScaleLayoutSpec.calls.getAndIncrement() == 0) first else second)
      .asNondeterministic()
    val batch = Seq(("v", 1L)).toDF("value", "ts")
      .select(lit("s").as("store"), flip().as("id"), col("value"), col("ts"))
    val err = intercept[IllegalStateException] {
      Io.upsertDims(spark, batch, "store", Map("s" -> Io.DimStore(dir, "id")), "ts")
    }
    assert(err.getMessage.contains("not deterministic"), err.getMessage)
    val left = Option(new java.io.File(dir).list()).toSeq.flatten
    assert(left.isEmpty, s"no bucket, no marker and no tmp left behind: $left")
  }

  test("orcSource round-trips batch and streaming (native second columnar format)") {
    import spark.implicits._
    val dir = tempDir("orc-src") + "/t"
    val rows = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "name", "v")
    rows.write.orc(dir)
    val back = Io.orcSource(spark, dir)
    assert(back.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // streaming read with explicit schema through the same binding
    val q = Io.orcSource(spark, dir, Some(rows.schema), streaming = true)
      .writeStream.format("memory").queryName("orc_stream_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("orc_stream_out").count() == 2)
  }

  test("jsonValue wire encoding round-trips through from_json (A2 serialization)") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val rows = Seq((1L, "a", Some(2.5)), (2L, "b", None)).toDF("id", "name", "score")
    val encoded = Io.jsonValue(rows)
    assert(encoded.columns.toSeq == Seq("value"))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType), StructField("score", DoubleType)))
    val decoded = encoded.select(from_json(col("value"), schema).as("j")).select("j.*")
    assert(decoded.collect().toSet == rows.collect().toSet, "lossless round-trip incl. nulls")
  }

  test("bucketed tables join without an Exchange (co-located join)") {
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    Io.writeBucketed(Tables.load(spark, sf0001, "orders"), "orders_b", "o_orderkey", 4)
    Io.writeBucketed(
      Tables.load(spark, sf0001, "lineitem").select("l_orderkey", "l_quantity"),
      "lineitem_b", "l_orderkey", 4)
    try {
      // merge hint on the join SIDE forces sort-merge, so the bucket layout
      // (not a broadcast) is what eliminates the shuffle
      val joined = spark.table("orders_b").hint("merge")
        .join(spark.table("lineitem_b"), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderstatus").count()
      assert(joined.count() > 0) // materialize so AQE's final plan is available
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning(o_orderkey") &&
        !plan.contains("Exchange hashpartitioning(l_orderkey"),
        s"bucketed join must not shuffle either side:\n$plan")
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }
}

object ScaleLayoutSpec {
  val calls = new java.util.concurrent.atomic.AtomicInteger()
}
