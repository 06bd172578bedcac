package graft.streaming

import graft.SparkSuite
import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming facility-location maintenance (FacilityStream): the bottom-16
  * candidate pool is a mergeable bottom-k sample, and the (subset,
  * candidate) gain cells are the exact additive sufficient statistic for
  * greedy over a FIXED pool — so maintain ≡ batch is gated as EXACT
  * equality with Similarity.facilityLocationFrom over everything
  * absorbed. Pool churn is the one event bounded state provably cannot
  * heal (a new candidate needs dots against already-absorbed points);
  * the specs pin the whole rule: loud refusal without an accessor, stale
  * reads refused by pool_sig, and the one-scan re-anchor restoring
  * exactness. */
class FacilityStreamSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(tag: String): String =
    tempDir(s"graft-fac-$tag")

  private def emb: DataFrame =
    graft.Tables.load(spark, sf0001, "embeddings").select("vec_id", "embedding")

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** vec_ids in md5 sampling order — the pool rule, driver-side. */
  private def md5Order: Seq[Long] =
    emb.select("vec_id").as[Long].collect().toSeq
      .sortBy(id => (md5hex(id.toString), id))

  private def q200(df: DataFrame): Seq[(Int, Long, String, String)] =
    Similarity.facilityLocationFrom(df)
      .as[(Int, Long, String, String)].collect().toSeq.sortBy(_._1)

  private def readSel(poolP: String, cellsP: String): Seq[(Int, Long, String, String)] =
    FacilityStream.readSelection(spark, poolP, cellsP)
      .as[(Int, Long, String, String)].collect().toSeq.sortBy(_._1)

  test("3-batch maintenance (stable pool) equals the batch operator after every absorb; replay is a no-op") {
    val (poolP, cellsP) = (tmp("pool"), tmp("cells"))
    val order = md5Order
    val bottom = order.take(16).toSet
    val rest = order.drop(16)
    // batch 1 carries the whole global bottom-16 (so no later batch can
    // evict a pool member) plus a third of the rest; 2 and 3 split the rest
    val parts = Seq(
      bottom ++ rest.zipWithIndex.collect { case (id, i) if i % 3 == 0 => id },
      rest.zipWithIndex.collect { case (id, i) if i % 3 == 1 => id }.toSet,
      rest.zipWithIndex.collect { case (id, i) if i % 3 == 2 => id }.toSet)
    val batches = parts.map(ids => emb.filter(col("vec_id").isInCollection(ids)))
    var absorbed = Set.empty[Long]
    batches.zipWithIndex.foreach { case (b, i) =>
      FacilityStream.applyBatch(spark, b, poolP, cellsP, epoch = i.toLong)
      absorbed ++= parts(i)
      val want = q200(emb.filter(col("vec_id").isInCollection(absorbed)))
      val got = readSel(poolP, cellsP)
      assert(got == want,
        s"after batch $i the maintained selection must equal the batch " +
          s"operator on everything absorbed:\n got=$got\nwant=$want")
    }
    // replay of the last epoch: store bytes-identical, read unchanged
    val cellsBefore = graft.io.Io.readDim(spark, cellsP)
      .as[(String, String, Long, String, String, Int, Long)].collect().toSet
    FacilityStream.applyBatch(spark, batches.last, poolP, cellsP, epoch = 2L)
    val cellsAfter = graft.io.Io.readDim(spark, cellsP)
      .as[(String, String, Long, String, String, Int, Long)].collect().toSet
    assert(cellsAfter == cellsBefore, "replaying the last epoch must not double-add")
  }

  test("pool churn: loud nothing-written refusal without an accessor; retrying the epoch with one re-anchors exactly; a wrong-size corpus is refused") {
    val (poolP, cellsP) = (tmp("pool-c"), tmp("cells-c"))
    val order = md5Order
    val lowest = order.head // the one id whose arrival must evict a candidate
    val b1 = emb.filter(col("vec_id") =!= lowest)
    val b2 = emb.filter(col("vec_id") === lowest)
    FacilityStream.applyBatch(spark, b1, poolP, cellsP, epoch = 0L)
    assert(readSel(poolP, cellsP) == q200(b1), "pre-churn maintenance exact")
    // the churn batch without an accessor: loud, named, and NOTHING
    // written — the maintained state still answers for what was absorbed
    val e1 = intercept[IllegalStateException] {
      FacilityStream.applyBatch(spark, b2, poolP, cellsP, epoch = 1L)
    }
    assert(e1.getMessage.contains("changed the candidate pool"),
      s"pool churn without an accessor must name the rule: ${e1.getMessage}")
    assert(readSel(poolP, cellsP) == q200(b1),
      "a refused churn batch must leave the stores untouched")
    // an accessor whose corpus is NOT everything-absorbed-plus-this-batch
    // (a landing sink running behind) is refused by the n_abs count gate
    val e2 = intercept[IllegalArgumentException] {
      FacilityStream.applyBatch(spark, b2, poolP, cellsP, epoch = 1L,
        reanchorWith = Some(() => b2))
    }
    assert(e2.getMessage.contains("re-anchor corpus holds"),
      s"a mis-sized re-anchor corpus must be refused by count: ${e2.getMessage}")
    assert(readSel(poolP, cellsP) == q200(b1),
      "a refused re-anchor must leave the stores untouched")
    // retrying the SAME epoch with the correct accessor succeeds
    FacilityStream.applyBatch(spark, b2, poolP, cellsP, epoch = 1L,
      reanchorWith = Some(() => emb))
    assert(readSel(poolP, cellsP) == q200(emb),
      "post-re-anchor maintenance must equal the batch operator on the full corpus")
  }

  test("crash window (cells ahead of pool): read refuses on pool_sig; wrong read/absorb k fails by name") {
    val (poolP, cellsP) = (tmp("pool-w"), tmp("cells-w"))
    FacilityStream.applyBatch(spark, emb, poolP, cellsP, epoch = 0L)
    // simulate the crash window by rolling the POOL row back one member
    // (cells stay anchored on the full pool) — the documented stale state
    val pool = graft.io.Io.readDim(spark, poolP)
    val rolled = pool.select(col("pk"),
      expr("slice(members, 1, size(members) - 1)").as("members"),
      col("n_abs"), (col("last_epoch") + 1).as("last_epoch"))
    graft.io.Io.upsertDim(spark, rolled, poolP, "pk", "last_epoch")
    val e = intercept[IllegalArgumentException] {
      FacilityStream.readSelection(spark, poolP, cellsP)
    }
    assert(e.getMessage.contains("stale pool"),
      s"a cells/pool sig mismatch must refuse the read: ${e.getMessage}")
    // k is pinned in the cells: a different k at read fails by name
    val (poolP2, cellsP2) = (tmp("pool-k"), tmp("cells-k"))
    FacilityStream.applyBatch(spark, emb, poolP2, cellsP2, epoch = 0L)
    val ek = intercept[IllegalArgumentException] {
      FacilityStream.readSelection(spark, poolP2, cellsP2, k = 5)
    }
    assert(ek.getMessage.contains("sel_k"),
      s"a k mismatch must name the pinned sel_k contract: ${ek.getMessage}")
    val ek2 = intercept[IllegalArgumentException] {
      FacilityStream.applyBatch(spark, emb, poolP2, cellsP2, epoch = 1L, k = 3)
    }
    assert(ek2.getMessage.contains("sel_k"),
      s"a k mismatch at absorb must name the pinned sel_k contract: ${ek2.getMessage}")
  }

  test("pool churn with the accessor absorbs inline (the run() path)") {
    val (poolP, cellsP) = (tmp("pool-a"), tmp("cells-a"))
    val order = md5Order
    val lowest = order.head
    val b1 = emb.filter(col("vec_id") =!= lowest)
    val b2 = emb.filter(col("vec_id") === lowest)
    FacilityStream.applyBatch(spark, b1, poolP, cellsP, epoch = 0L)
    FacilityStream.applyBatch(spark, b2, poolP, cellsP, epoch = 1L,
      reanchorWith = Some(() => emb))
    assert(readSel(poolP, cellsP) == q200(emb),
      "an accessor-backed churn batch must land the re-anchor inline")
  }

  test("cell-budget guard: an exploding (pool, k) is refused at configuration, by name") {
    // round-15 VERDICT #5 red-proof: (16, 8) enumerates 262,144 cells —
    // the guard must refuse BEFORE any store exists or any absorb runs
    assert(FacilityStream.closureSize(16, 4) == BigInt(9216),
      "the documented default closure size is the guard's own arithmetic")
    assert(FacilityStream.closureSize(16, 8) == BigInt(262144))
    val (poolP, cellsP) = (tmp("pool-x"), tmp("cells-x"))
    val e = intercept[IllegalArgumentException] {
      FacilityStream.applyBatch(spark, emb, poolP, cellsP, epoch = 0L,
        k = 8, pool = 16)
    }
    assert(e.getMessage.contains("262144") && e.getMessage.contains("KCenterStream"),
      s"the refusal must carry the closure size and the bounded alternative: ${e.getMessage}")
    assert(!graft.io.Io.dimStoreHasData(poolP) && !graft.io.Io.dimStoreHasData(cellsP),
      "a refused configuration must write nothing")
    // and the in-budget default still passes the same guard
    FacilityStream.validateCellBudget(16, 4)
  }

  test("partial-publish crash window (mixed last_epoch): read refuses by name; replaying the epoch heals per row") {
    // round-16 ADVICE #1: upsertDim publishes per bucket, so a crash mid-
    // publish leaves SOME cells at epoch e (already holding the batch's
    // sums) and others at e-1 (not yet). A head-sampled done-gate would
    // skip the replay's add and silently lose the unpublished buckets;
    // the fix gates per ROW, exactly EpochStore.mergeAdditive's rule.
    val (poolP, cellsP) = (tmp("pool-m"), tmp("cells-m"))
    val order = md5Order
    val bottom = order.take(16).toSet
    val rest = order.drop(16)
    val p1 = bottom ++ rest.zipWithIndex.collect { case (id, i) if i % 2 == 0 => id }
    val p2 = rest.zipWithIndex.collect { case (id, i) if i % 2 == 1 => id }.toSet
    val b1 = emb.filter(col("vec_id").isInCollection(p1))
    val b2 = emb.filter(col("vec_id").isInCollection(p2))
    FacilityStream.applyBatch(spark, b1, poolP, cellsP, epoch = 0L)
    val after0 = graft.io.Io.readDim(spark, cellsP)
      .as[(String, String, Long, String, String, Int, Long)].collect()
    FacilityStream.applyBatch(spark, b2, poolP, cellsP, epoch = 1L)
    val after1 = graft.io.Io.readDim(spark, cellsP)
      .as[(String, String, Long, String, String, Int, Long)].collect()
    // rebuild the crash state: cells whose xxhash is even kept their
    // epoch-1 row (published buckets), the rest rolled back to epoch 0
    val a0 = after0.map(r => r._1 -> r).toMap
    val mixed = after1.map { r =>
      if (math.abs(r._1.hashCode) % 2 == 0) r else a0(r._1)
    }
    assert(mixed.exists(_._7 == 0L) && mixed.exists(_._7 == 1L),
      "fixture must actually be mixed-epoch")
    graft.io.Io.rewriteDim(spark, cellsP, "cell_id",
      mixed.toSeq.toDF("cell_id", "subset_sig", "cand", "g", "pool_sig",
        "sel_k", "last_epoch"))
    // a read inside the window refuses by name — answering would mix sums
    val e = intercept[IllegalArgumentException] {
      FacilityStream.readSelection(spark, poolP, cellsP)
    }
    assert(e.getMessage.contains("MIXED last_epoch"),
      s"mixed-epoch store must refuse the read by name: ${e.getMessage}")
    // replaying epoch 1 heals: epoch-1 rows keep their sums, epoch-0 rows
    // add the recomputed batch — the store converges to the clean absorb
    FacilityStream.applyBatch(spark, b2, poolP, cellsP, epoch = 1L)
    val healed = graft.io.Io.readDim(spark, cellsP)
      .as[(String, String, Long, String, String, Int, Long)].collect()
    assert(healed.toSet == after1.toSet,
      "the per-row gated replay must converge exactly to the clean store")
    assert(readSel(poolP, cellsP) == q200(emb.filter(col("vec_id")
      .isInCollection(p1 ++ p2))), "post-heal read equals the batch operator")
  }

  test("incomplete cells store (missing cell): read refuses by name; replay re-anchors whole") {
    val (poolP, cellsP) = (tmp("pool-i"), tmp("cells-i"))
    FacilityStream.applyBatch(spark, emb, poolP, cellsP, epoch = 0L)
    val clean = graft.io.Io.readDim(spark, cellsP)
      .as[(String, String, Long, String, String, Int, Long)].collect()
    // drop one round-0 cell (subset_sig = '') — greedy probes every one
    val victim = clean.filter(_._2 == "").head._1
    graft.io.Io.rewriteDim(spark, cellsP, "cell_id",
      clean.filterNot(_._1 == victim).toSeq
        .toDF("cell_id", "subset_sig", "cand", "g", "pool_sig", "sel_k",
          "last_epoch"))
    val e = intercept[IllegalStateException] {
      FacilityStream.readSelection(spark, poolP, cellsP)
    }
    assert(e.getMessage.contains("missing cell"),
      s"an incomplete store must refuse the read by name, not NPE/NoSuchElement: ${e.getMessage}")
    // the replay routes an incomplete store to the corpus re-anchor (the
    // stable per-row path requires every cell present) and heals exactly;
    // the pool row already carries this epoch, so the count gate expects
    // n_abs WITHOUT re-adding the batch
    FacilityStream.applyBatch(spark, emb, poolP, cellsP, epoch = 0L,
      reanchorWith = Some(() => emb))
    val healed = graft.io.Io.readDim(spark, cellsP)
      .as[(String, String, Long, String, String, Int, Long)].collect()
    assert(healed.toSet == clean.toSet,
      "the re-anchor replay must rebuild the exact clean store")
    assert(readSel(poolP, cellsP) == q200(emb))
  }

  test("never-written stores: read fails with the named contract error") {
    val (poolP, cellsP) = (tmp("pool-n"), tmp("cells-n"))
    FacilityStream.applyBatch(spark, emb.filter(col("vec_id") < 0), poolP,
      cellsP, epoch = 0L)
    val e = intercept[IllegalStateException] {
      FacilityStream.readSelection(spark, poolP, cellsP)
    }
    assert(e.getMessage.contains("absorbed no batches"),
      s"an empty-batch-only stream must fail the read by name: ${e.getMessage}")
  }
}
