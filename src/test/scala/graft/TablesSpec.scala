package graft

import org.apache.spark.sql.functions._

/** Pins the testdata loading contract: the driver regenerates
  * `/root/testdata` between rounds and has already changed a physical type
  * once (events.ts TIMESTAMP(NANOS) → TIMESTAMP(MICROS), round 8 — which
  * killed 23 queries with a bare analyzer stack). These tests pin (a) both
  * events branches producing the same TimestampType `event_time`, and (b)
  * the drift guard turning an unexpected retype into one actionable error.
  */
class TablesSpec extends SparkSuite {

  test("events loader handles timestamp[us] ts (current testdata)") {
    val ev = Tables.events(spark, sf0001)
    assert(ev.schema("event_time").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(ev.count() > 0)
  }

  test("events loader handles legacy Long-nanos ts (pre-round-8 testdata)") {
    import spark.implicits._
    val dir = tempDir("graft-ev-nanos")
    // 2024-01-01T00:00:00.000001999Z in nanos: micros truncation must yield
    // ...000001, not round to ...000002 (DuckDB truncates on read).
    val nanos = 1704067200000001999L
    Seq((1L, nanos, 7L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val ev = Tables.events(spark, dir)
    assert(ev.schema("event_time").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val micros = ev.select(unix_micros(col("event_time"))).head().getLong(0)
    assert(micros == nanos / 1000, s"expected trunc(ns/1000), got $micros")
  }

  test("events loader handles real TIMESTAMP(NANOS) parquet via the AnalysisException fallback") {
    // src/test/resources/events_nanos.parquet is a REAL pre-round-8-shaped
    // file (physical INT64 TIMESTAMP(NANOS,false)): Spark 4.1.2 rejects it
    // eagerly at spark.read.parquet with AnalysisException
    // [PARQUET_TYPE_ILLEGAL] (probed 2026-08-13) — this pins the catch →
    // nanosAsLong → truncate path on the authentic trigger, which the
    // plain-Long fixture above cannot reach (it loads first try). If a
    // Spark upgrade re-parents the exception, THIS test goes red instead of
    // 23 events queries dying with a raw analyzer stack (round 8's mode).
    val dir = tempDir("graft-ev-realnanos")
    val src = new java.io.File("src/test/resources/events_nanos.parquet")
    assert(src.isDirectory, s"fixture missing: $src")
    val dst = java.nio.file.Paths.get(dir, "events.parquet")
    java.nio.file.Files.createDirectories(dst)
    src.listFiles().foreach(f =>
      java.nio.file.Files.copy(f.toPath, dst.resolve(f.getName)))
    val ev = Tables.events(spark, dir)
    assert(ev.schema("event_time").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val micros = ev.orderBy("event_id").select(unix_micros(col("event_time")))
      .collect().map(_.getLong(0)).toSeq
    // trunc(ns/1000), never round: ...001999 -> ...001, ...999999999 -> ...999999
    assert(micros == Seq(1704067200000001L, 1704067200500000L, 1704153600999999L),
      micros)
  }

  test("a retyped column fails with one actionable drift error, not an analyzer stack") {
    import spark.implicits._
    val dir = tempDir("graft-drift")
    // documents.n_chars retyped to string — the kind of silent regeneration
    // drift that round 8 hit on events.ts
    Seq((1L, "hello", "en", "web", "5"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val e = intercept[IllegalArgumentException] {
      Tables.load(spark, dir, "documents")
    }
    assert(e.getMessage.contains("schema drift"), e.getMessage)
    assert(e.getMessage.contains("documents"), e.getMessage)
    assert(e.getMessage.contains("n_chars"), e.getMessage)
  }

  test("a dropped column names itself and the surviving columns") {
    import spark.implicits._
    val dir = tempDir("graft-drop")
    Seq((1, "EUROPE")).toDF("r_regionkey", "r_label")
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    val e = intercept[IllegalArgumentException] {
      Tables.load(spark, dir, "region")
    }
    assert(e.getMessage.contains("r_name MISSING"), e.getMessage)
  }

  test("all ten real tables load clean through the drift guard") {
    Tables.names.foreach { n =>
      assert(Tables.load(spark, sf0001, n).columns.nonEmpty, n)
    }
  }
}
