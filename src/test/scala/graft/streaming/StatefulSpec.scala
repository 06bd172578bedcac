package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming semantics of the flatMapGroupsWithState operators, driven through
  * MemoryStream micro-batches so cross-batch state and event-time timeouts are
  * actually exercised (not the degenerate single-batch path).
  */
class StatefulSpec extends SparkSuite {

  import scala.language.implicitConversions

  private def ev(mid: String, ts: Long, isNew: String = "1",
                 lastPage: Option[String] = None, page: Option[String] = Some("home")): LogEvent =
    LogEvent(mid, s"u_$mid", "110000", "web", "v1", isNew, page, lastPage, Some(1000L), ts)

  private def withWatermarkDs(ms: MemoryStream[LogEvent]): Dataset[LogEvent] = {
    import spark.implicits._
    ms.toDS()
      .withColumn("event_time", timestamp_millis(col("ts")))
      .withWatermark("event_time", "0 seconds")
      .as[LogEvent]
  }

  test("repairIsNew rewrites stale is_new=1 claims across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[LogEvent]
    val q = Stateful.repairIsNew(ms.toDS()).writeStream
      .format("memory").queryName("repair_out").outputMode("append").start()
    try {
      val day1 = 1700000000000L // 2023-11-14
      val day2 = day1 + 86400000L
      ms.addData(ev("m1", day1, "1"), ev("m2", day1, "1"))
      q.processAllAvailable()
      ms.addData(ev("m1", day2, "1"), ev("m3", day2, "1")) // m1 is now a known device
      q.processAllAvailable()
      val out = spark.table("repair_out").as[LogEvent].collect()
      val byMidTs = out.map(e => (e.mid, e.ts) -> e.is_new).toMap
      assert(byMidTs(("m1", day1)) == "1") // first sighting keeps claim
      assert(byMidTs(("m1", day2)) == "0") // later-day claim repaired
      assert(byMidTs(("m2", day1)) == "1")
      assert(byMidTs(("m3", day2)) == "1")
    } finally if (q != null) q.stop()
  }

  test("repairIsNew: is_new=0 events never touch state (exact reference machine)") {
    // BaseLogApp.java:177-201 reads/writes firstVisitDateState ONLY inside the
    // is_new=="1" branch: a device first seen with is_new=0 is NOT marked, so
    // a later-day is_new=1 claim must be TRUSTED (it sets the state then)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[LogEvent]
    val q = Stateful.repairIsNew(ms.toDS()).writeStream
      .format("memory").queryName("repair_zero_out").outputMode("append").start()
    try {
      val day1 = 1700000000000L
      val day2 = day1 + 86400000L
      ms.addData(ev("mz", day1, "0"))
      q.processAllAvailable()
      ms.addData(ev("mz", day2, "1")) // state still empty → claim trusted
      q.processAllAvailable()
      ms.addData(ev("mz", day2 + 86400000L, "1")) // now state=day2 → repaired
      q.processAllAvailable()
      val byTs = spark.table("repair_zero_out").as[LogEvent].collect()
        .map(e => e.ts -> e.is_new).toMap
      assert(byTs(day1) == "0")
      assert(byTs(day2) == "1", "is_new=0 must not have marked the device as seen")
      assert(byTs(day2 + 86400000L) == "0", "the trusted claim set the state")
    } finally q.stop()
  }

  test("streamingAsof matches the batch as-of join semantics cross-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Stateful.AsofEvent]
    val q = Stateful.streamingAsof(ms.toDS()).writeStream
      .format("memory").queryName("asof_out").outputMode("append").start()
    try {
      val t0 = 1700000000000L
      def view(u: Long, ts: Long, id: Long) = Stateful.AsofEvent(u, ts, Some(id), None)
      def buy(u: Long, ts: Long, id: Long) = Stateful.AsofEvent(u, ts, None, Some(id))
      ms.addData(
        view(1L, t0, 10L),
        view(1L, t0 + 1000, 11L),
        buy(1L, t0 + 2000, 100L),  // matches view 11
        buy(2L, t0, 200L),         // no prior view: null match
        view(3L, t0 + 500, 30L),
        buy(3L, t0 + 500, 300L))   // same-instant view matches (tie rule)
      q.processAllAvailable()
      // cross-batch: the latest-view STATE carries over
      ms.addData(buy(1L, t0 + 9000, 101L)) // still view 11
      ms.addData(view(1L, t0 + 10000, 12L), buy(1L, t0 + 11000, 102L))
      q.processAllAvailable()
      val got = spark.table("asof_out").as[Stateful.AsofMatch].collect()
        .map(m => m.purchase_id -> m.asof_view_id).toMap
      assert(got == Map(
        100L -> Some(11L), 200L -> None, 300L -> Some(30L),
        101L -> Some(11L), 102L -> Some(12L)), s"got $got")
    } finally q.stop()
  }

  test("dailyUv keeps only first session-entry per device per day") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[LogEvent]
    val q = Stateful.dailyUv(withWatermarkDs(ms)).writeStream
      .format("memory").queryName("uv_out").outputMode("append").start()
    try {
      val t0 = 1700000000000L
      ms.addData(
        ev("m1", t0),                                  // first entry: kept
        ev("m1", t0 + 1000),                           // same day: dropped
        ev("m1", t0 + 2000, lastPage = Some("home")))  // not an entry: dropped
      q.processAllAvailable()
      ms.addData(ev("m1", t0 + 5000), ev("m2", t0 + 5000)) // m1 dup (cross-batch), m2 new
      q.processAllAvailable()
      val out = spark.table("uv_out").as[LogEvent].collect()
      assert(out.map(e => (e.mid, e.ts)).toSet == Set(("m1", t0), ("m2", t0 + 5000)))
    } finally q.stop()
  }

  test("detectBounces emits entries with no follow-up within gap, incl. via timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[LogEvent]
    val q = Stateful.detectBounces(withWatermarkDs(ms), gapMillis = 10000L).writeStream
      .format("memory").queryName("bounce_out").outputMode("append").start()
    try {
      val t0 = 1700000000000L
      ms.addData(
        ev("m1", t0),                                        // entry…
        ev("m1", t0 + 3000, lastPage = Some("home")),        // …followed within 10 s: no bounce
        ev("m2", t0))                                        // entry, nothing after (yet)
      q.processAllAvailable()
      // advance the watermark far past m2's gap via another device's event
      ms.addData(ev("m3", t0 + 60000))
      q.processAllAvailable()
      ms.addData(ev("m4", t0 + 120000))
      q.processAllAvailable()
      val out = spark.table("bounce_out").as[LogEvent].collect()
      assert(out.exists(e => e.mid == "m2" && e.ts == t0), s"m2 should bounce, got ${out.toSeq}")
      assert(!out.exists(_.mid == "m1"), "m1 had a follow-up within gap")
    } finally q.stop()
  }
}
