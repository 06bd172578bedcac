package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Exactly-once streaming MV maintenance: the q115 algebra driven by
  * foreachBatch into the bucketed upsert store, with per-key epoch replay
  * detection standing in for sink transactions. */
class IncrementalMvSpec extends SparkSuite {
  import spark.implicits._

  private val t0 = 1700000000000L

  private def mkDelta(rows: Seq[(Long, String, Double)]): DataFrame =
    rows.toDF("ms", "event_type", "value")
      .select(timestamp_millis(col("ms")).as("event_time"),
        col("event_type"), col("value"))

  private def fullRecompute(all: Seq[(Long, String, Double)]): Set[(String, String, Long, Long, Long)] =
    mkDelta(all)
      .select(col("event_type"), to_date(col("event_time")).cast("string").as("event_date"),
        floor(col("value") * 100).cast("long").as("cents"))
      .groupBy("event_type", "event_date")
      .agg(count(lit(1)).as("ct"), sum(col("cents")).as("sum_cents"),
        max(col("cents")).as("max_cents"))
      .as[(String, String, Long, Long, Long)].collect().toSet

  private def readMv(path: String): Set[(String, String, Long, Long, Long)] =
    IncrementalMv.readMv(spark, path)
      .select(col("event_type"), col("event_date").cast("string"),
        col("ct"), col("sum_cents"), col("max_cents"))
      .as[(String, String, Long, Long, Long)].collect().toSet

  test("micro-batched maintenance equals a one-pass recompute; full replay is a no-op") {
    val dir = tempDir("graft-mv")
    val day = 86400000L
    val b1 = Seq((t0, "view", 1.50), (t0 + 1000, "click", 2.25), (t0 + day, "view", 3.00))
    val b2 = Seq((t0 + 2000, "view", 0.75), (t0 + day + 1000, "click", 9.99))
    val b3 = Seq((t0 + 3000, "view", 4.20))
    IncrementalMv.applyBatch(spark, mkDelta(b1), dir, epoch = 0)
    IncrementalMv.applyBatch(spark, mkDelta(b2), dir, epoch = 1)
    IncrementalMv.applyBatch(spark, mkDelta(b3), dir, epoch = 2)
    val expect = fullRecompute(b1 ++ b2 ++ b3)
    assert(readMv(dir) == expect)
    // FULL replay of the last epoch (crash after sink write, before the
    // checkpoint commit): every key already carries last_epoch=2 → no-op
    IncrementalMv.applyBatch(spark, mkDelta(b3), dir, epoch = 2)
    assert(readMv(dir) == expect, "replayed epoch must not double-count")
    // replaying an EARLIER epoch (bogus rewind) must also be dropped
    IncrementalMv.applyBatch(spark, mkDelta(b2), dir, epoch = 1)
    assert(readMv(dir) == expect)
  }

  test("PARTIAL sink commit: replay applies only the keys the crash missed") {
    val dir = tempDir("graft-mv-part")
    val b1 = Seq((t0, "view", 1.00), (t0 + 1000, "click", 2.00))
    IncrementalMv.applyBatch(spark, mkDelta(b1), dir, epoch = 0)
    // epoch 1 delta touches both keys, but the "crash" persisted only the
    // view key's bucket: simulate by applying the view half under epoch 1...
    val b2view = Seq((t0 + 2000, "view", 5.00))
    val b2click = Seq((t0 + 3000, "click", 7.00))
    IncrementalMv.applyBatch(spark, mkDelta(b2view), dir, epoch = 1)
    // ...then replaying the WHOLE epoch-1 batch: view is at last_epoch=1
    // (skipped), click is still at 0 (merged)
    IncrementalMv.applyBatch(spark, mkDelta(b2view ++ b2click), dir, epoch = 1)
    assert(readMv(dir) == fullRecompute(b1 ++ b2view ++ b2click),
      "partial-commit replay must fill only the missed keys, once")
  }

  test("crash between marker write and first bucket publish: replay bootstraps, not wedges") {
    // upsertDim writes the _buckets marker BEFORE any bucket dir, so a crash
    // in that window leaves a store holding ONLY the marker. The epoch-0
    // replay must treat that as an empty store (bootstrap branch) — the
    // pre-fix code read the dataless dir and threw AnalysisException,
    // permanently wedging the stream (round-9 ADVICE, medium).
    val dir = tempDir("graft-mv-marker")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "_buckets"), "8")
    val b1 = Seq((t0, "view", 1.00), (t0 + 1000, "click", 2.00))
    IncrementalMv.applyBatch(spark, mkDelta(b1), dir, epoch = 0)
    assert(readMv(dir) == fullRecompute(b1))
    // and the store is fully live afterwards: next epoch merges normally
    val b2 = Seq((t0 + 2000, "view", 3.00))
    IncrementalMv.applyBatch(spark, mkDelta(b2), dir, epoch = 1)
    assert(readMv(dir) == fullRecompute(b1 ++ b2))
  }

  test("real events table in 3 micro-batches equals the oracle-gated q115 MV") {
    val dir = tempDir("graft-mv-real")
    val ev = graft.Tables.load(spark, sf0001, "events")
      .select(col("event_id"), col("event_time"), col("event_type"), col("value"))
    (0L to 2L).foreach { i =>
      IncrementalMv.applyBatch(spark,
        ev.filter(col("event_id") % 3 === i).drop("event_id"), dir, epoch = i)
    }
    val got = readMv(dir)
    // the q115 operator computes the same MV (its own equality with a
    // one-pass recompute is oracle-gated at sf0.01) — chain to it
    val q115 = graft.operators.Relational.incrementalStats(spark, sf0001)
      .select(col("event_type"), col("event_date").cast("string"),
        col("ct"), col("sum_cents"), col("max_cents"))
      .as[(String, String, Long, Long, Long)].collect().toSet
    assert(got == q115, s"missing=${q115 -- got} extra=${got -- q115}")
  }

  test("sketch measure: 3-batch HLL maintenance equals a recompute within tolerance; replay is a no-op") {
    val dir = tempDir("graft-mv-sketch")
    def mk(rows: Seq[(Long, String, Double, Long)]): DataFrame =
      rows.toDF("ms", "event_type", "value", "user_id")
        .select(timestamp_millis(col("ms")).as("event_time"),
          col("event_type"), col("value"), col("user_id"))
    val day = 86400000L
    // users overlap across batches — the union must COUNT DISTINCT across
    // batch boundaries, which per-batch exact counts cannot
    val b1 = Seq((t0, "view", 1.0, 1L), (t0 + 1000, "view", 2.0, 2L),
      (t0 + day, "click", 3.0, 1L))
    val b2 = Seq((t0 + 2000, "view", 4.0, 2L), (t0 + 3000, "view", 5.0, 3L))
    val b3 = Seq((t0 + 4000, "view", 6.0, 4L), (t0 + day + 1000, "click", 7.0, 9L))
    Seq(b1, b2, b3).zipWithIndex.foreach { case (b, i) =>
      IncrementalMv.applyBatch(spark, mk(b), dir, epoch = i.toLong,
        distinctCol = Some("user_id"))
    }
    val got = IncrementalMv.readMv(spark, dir)
      .select(col("event_type"), col("event_date").cast("string"),
        col("ct"), col("uv_estimate"))
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    val exact = mk(b1 ++ b2 ++ b3)
      .groupBy(col("event_type"), to_date(col("event_time")).cast("string").as("event_date"))
      .agg(count(lit(1)).as("ct"), countDistinct(col("user_id")).as("uv"))
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(got.keySet == exact.keySet)
    exact.foreach { case (k, (ct, uv)) =>
      val (gct, gest) = got(k)
      assert(gct == ct, s"$k ct")
      // cardinalities this small sit in HLL's exact sparse range
      assert(math.abs(gest - uv) / uv <= 0.15, s"$k: est=$gest exact=$uv")
    }
    // replayed epoch must not re-union its users into the sketch: estimates
    // at these cardinalities are integer-exact, so any double-merge that
    // perturbed them would surface; the epoch gate drops the replay before
    // the union ever runs
    IncrementalMv.applyBatch(spark, mk(b3), dir, epoch = 2,
      distinctCol = Some("user_id"))
    val replayed = IncrementalMv.readMv(spark, dir)
      .select(col("event_type"), col("event_date").cast("string"), col("uv_estimate"))
      .as[(String, String, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    got.foreach { case (k, (_, est)) => assert(replayed(k) == est, s"$k replay drift") }

    // readOverlap: cross-type audience overlap straight from the maintained
    // sketches (union per type across dates, inclusion-exclusion per pair).
    // Users here: view={1,2,3,4}, click={1,9} -> overlap {1}; cardinalities
    // sit in HLL's exact sparse range, so the estimates are integer-exact
    val ov = IncrementalMv.readOverlap(spark, dir)
      .as[(String, String, Double, Double, Double)].collect()
    assert(ov.toSeq == Seq(("click", "view", 2.0, 4.0, 1.0)), ov.toSeq.toString)
  }

  test("concurrent reader never observes a torn or blended row while commits land") {
    // The 100 TB read-path claim: upsertDim publishes each bucket by
    // rename-aside, so a reader polling readMv mid-commit sees each BUCKET
    // either entirely before or entirely after its swap — never a
    // half-written file, never a blended row, never a duplicated key.
    // Across buckets the guarantee is per-key: every observed row is a
    // state some committed epoch produced. A reader whose file listing
    // races the rename window itself may fail LOUDLY (FileNotFound) — a
    // retryable error is not a torn view; silence-with-wrong-data is what
    // this spec forbids.
    val dir = tempDir("graft-mv-reader")
    val epochs = 12
    // two keys that land in different buckets; each epoch adds one row to both
    def oneDelta = mkDelta(Seq((t0, "view", 1.0), (t0 + 86400000L, "click", 1.0)))
    IncrementalMv.applyBatch(spark, oneDelta, dir, epoch = 0)
    // per-key valid states: after epoch e, ct = e+1 (epoch e adds one row)
    val validCts = (1 to epochs).map(_.toLong).toSet
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    val failures = new java.util.concurrent.atomic.AtomicInteger(0)
    val badReads = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      while (!stop.get()) {
        try {
          val rows = IncrementalMv.readMv(spark, dir)
            .select(col("event_type"), col("ct")).collect()
          val byKey = rows.groupBy(_.getString(0))
          byKey.foreach { case (k, rs) =>
            if (rs.length > 1) badReads.add(s"duplicate key $k: ${rs.length} rows")
            val ct = rs.head.getLong(1)
            if (!validCts.contains(ct)) badReads.add(s"$k torn ct=$ct")
            seen.add(k -> ct)
          }
        } catch { case scala.util.control.NonFatal(_) =>
          failures.incrementAndGet() } // loud+retryable, not torn
      }
    })
    reader.start()
    (1 until epochs).foreach { e =>
      IncrementalMv.applyBatch(spark, oneDelta, dir, epoch = e.toLong)
    }
    stop.set(true); reader.join(30000)
    assert(badReads.isEmpty, s"torn reads: ${badReads.toArray.mkString("; ")}")
    assert(seen.size() > 0, "reader never completed a single poll")
  }

  test("streaming run: MemoryStream batches land exactly-once through foreachBatch") {
    implicit val sqlCtx = spark.sqlContext
    val base = tempPath("graft-mv-stream")
    val store = base.resolve("store").toString
    val ckpt = base.resolve("ckpt").toString
    val ms = MemoryStream[(Long, String, Double)]
    val events = ms.toDS().toDF("ms", "event_type", "value")
      .select(timestamp_millis(col("ms")).as("event_time"),
        col("event_type"), col("value"))
    val rows1 = Seq((t0, "view", 1.10), (t0 + 1000, "click", 2.20))
    val rows2 = Seq((t0 + 2000, "view", 3.30))
    val q = EpochStore.run(events, ckpt) { (delta, epoch) =>
      IncrementalMv.applyBatch(spark, delta, store, epoch)
    }
    ms.addData(rows1: _*); q.processAllAvailable()
    ms.addData(rows2: _*); q.processAllAvailable()
    q.stop()
    assert(readMv(store) == fullRecompute(rows1 ++ rows2))
  }
}
