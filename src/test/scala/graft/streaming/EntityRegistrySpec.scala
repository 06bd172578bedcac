package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming entity registry: batch-at-a-time linkage must equal the
  * oracle-gated q129 semantics, stay exactly-once under replay, stay
  * DETERMINISTIC under partial-commit replay, and keep entity ids stable
  * across attribute updates. */
class EntityRegistrySpec extends SparkSuite {
  import spark.implicits._

  private def customers(): DataFrame =
    graft.Tables.load(spark, sf001, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_mktsegment"), floor(col("c_acctbal") * 100).cast("long").as("cents"))

  private def tmp(): String =
    tempDir("graft-entreg")

  private type Reg = (Long, Long, Int, Boolean)

  private def regRows(store: String): Set[Reg] =
    EntityRegistry.readRegistry(spark, store)
      .select(col("c_custkey"), col("entity_id"), col("best_score"), col("matched"))
      .as[Reg].collect().toSet

  test("seed + batch equals the oracle-gated ingestLinkage; replay is a no-op; updates keep the entity") {
    val store = tmp()
    val c = customers()
    val seed = c.filter(pmod(col("c_custkey"), lit(10)) =!= 0)
    val batch = c.filter(pmod(col("c_custkey"), lit(10)) === 0)
    EntityRegistry.applyBatch(spark, seed, store, epoch = 0L)
    // seeded rows link against an empty registry: all self-entities
    assert(regRows(store).forall(r => r._1 == r._2 && !r._4))

    EntityRegistry.applyBatch(spark, batch, store, epoch = 1L)
    val after = regRows(store)
    val batchKeys = batch.select(col("c_custkey")).as[Long].collect().toSet
    val got = after.filter(r => batchKeys.contains(r._1))
      .map(r => (r._1, r._2, r._3, r._4))
    val want = graft.operators.Dedup.ingestLinkage(spark, sf001)
      .as[(Long, Long, Int, Boolean)].collect().toSet
    assert(got == want, "streaming registry diverged from the q129 batch semantics")
    assert(want.exists(_._4) && want.exists(!_._4))

    // full replay of epoch 1: per-key gate drops everything
    EntityRegistry.applyBatch(spark, batch, store, epoch = 1L)
    assert(regRows(store) == after, "replayed epoch mutated the registry")

    // genuine later-epoch update: attributes move, entity is FIRST-WINS
    val upd = batch.limit(5).withColumn("cents", col("cents") + 7)
    EntityRegistry.applyBatch(spark, upd, store, epoch = 2L)
    val updKeys = upd.select(col("c_custkey")).as[Long].collect().toSet
    val entityOfBefore = after.map(r => r._1 -> r._2).toMap
    val fin = EntityRegistry.readRegistry(spark, store)
      .select(col("c_custkey"), col("entity_id"), col("cents"), col("last_epoch"))
      .as[(Long, Long, Long, Long)].collect()
    fin.filter(r => updKeys.contains(r._1)).foreach { r =>
      assert(r._2 == entityOfBefore(r._1), s"entity of ${r._1} changed on update")
      assert(r._4 == 2L, s"update of ${r._1} not recorded at epoch 2")
    }
    assert(fin.count(r => updKeys.contains(r._1)) == updKeys.size)
  }

  test("partial-commit replay is deterministic: crash-landed subset + replay equals the no-crash run") {
    val cleanStore = tmp()
    val crashStore = tmp()
    val c = customers()
    val seed = c.filter(pmod(col("c_custkey"), lit(10)) =!= 0)
    val batch = c.filter(pmod(col("c_custkey"), lit(10)) === 0)

    EntityRegistry.applyBatch(spark, seed, cleanStore, epoch = 0L)
    EntityRegistry.applyBatch(spark, batch, cleanStore, epoch = 1L)

    EntityRegistry.applyBatch(spark, seed, crashStore, epoch = 0L)
    // simulate a crash that committed only part of epoch 1's buckets: land
    // a sub-batch (some keys), then replay the FULL batch at the same epoch
    val landed = batch.limit(7)
    EntityRegistry.applyBatch(spark, landed, crashStore, epoch = 1L)
    EntityRegistry.applyBatch(spark, batch, crashStore, epoch = 1L)

    assert(regRows(crashStore) == regRows(cleanStore),
      "partial-commit replay assigned different entities than the no-crash run")
  }

  test("MemoryStream end-to-end via run(): two micro-batches land with q129 semantics") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val store = tmp()
    val ckpt = tmp()
    val rows = customers()
      .as[(Long, String, Int, String, Long)].collect()
    val ms = MemoryStream[(Long, String, Int, String, Long)]
    val src = ms.toDS().select(col("_1").as("c_custkey"), col("_2").as("c_name"),
      col("_3").as("c_nationkey"), col("_4").as("c_mktsegment"), col("_5").as("cents"))
    val q = EpochStore.run(src, ckpt) { (delta, epoch) =>
      EntityRegistry.applyBatch(spark, delta, store, epoch)
    }
    try {
      ms.addData(rows.filter(_._1 % 10 != 0).toSeq)
      q.processAllAvailable()
      ms.addData(rows.filter(_._1 % 10 == 0).toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val got = regRows(store)
    assert(got.size == rows.length, "registry must hold every arrived key")
    val want = graft.operators.Dedup.ingestLinkage(spark, sf001)
      .as[(Long, Long, Int, Boolean)].collect().toSet
    assert(got.filter(r => r._1 % 10 == 0) == want)
  }
}
