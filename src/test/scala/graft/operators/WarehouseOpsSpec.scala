package graft.operators

import graft.SparkSuite

/** Driver-side replays for the round-10 warehouse/layout operators:
  * q118 audienceOverlap, q119 scd2History, q120 zorderLayout. Each test
  * recomputes the expected output from the raw rows in plain Scala
  * (independent of the Spark plan) and compares exactly; the z-order test
  * additionally pins the zone-map tiling guarantee the layout exists for.
  */
class WarehouseOpsSpec extends SparkSuite {
  import org.apache.spark.sql.functions.col

  private def utcFmt(pattern: String): java.text.SimpleDateFormat = {
    val f = new java.text.SimpleDateFormat(pattern)
    f.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    f
  }

  test("audienceOverlap: exact counts match a driver replay and every flag is true") {
    import spark.implicits._
    val day = utcFmt("yyyy-MM-dd")
    val el = graft.Tables.load(spark, sf0001, "events")
      .select($"event_type", $"user_id".cast("long"), $"event_time")
      .as[(String, Long, java.sql.Timestamp)].collect()
      .map { case (t, u, ts) => (t, s"${u}_${day.format(ts)}") }.toSet
    val byType = el.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val types = byType.keys.toSeq.sorted
    val want = (for {
      (a, i) <- types.zipWithIndex; b <- types.drop(i + 1)
    } yield (a, b, byType(a).size.toLong, byType(b).size.toLong,
      byType(a).intersect(byType(b)).size.toLong)).toSet
    val got = Relational.audienceOverlap(spark, sf0001)
      .as[(String, String, Long, Long, Long, Boolean)].collect()
    assert(got.forall(_._6), s"HLL inclusion-exclusion out of tolerance: " +
      got.filterNot(_._6).mkString(", "))
    assert(got.map(r => (r._1, r._2, r._3, r._4, r._5)).toSet == want)
  }

  test("scd2History: intervals match a driver replay; history invariants hold") {
    import spark.implicits._
    val fmt = utcFmt("yyyy-MM-dd HH:mm:ss")
    val ev = graft.Tables.load(spark, sf0001, "events")
      .select($"user_id".cast("long"), $"event_type", $"event_time",
        $"event_id".cast("long"))
      .as[(Long, String, java.sql.Timestamp, Long)].collect()
    val want = ev.groupBy(_._1).flatMap { case (uid, rows) =>
      val ordered = rows.sortBy(r => (r._3.getTime, r._4))
      val changes = ordered.foldLeft(Vector.empty[(String, java.sql.Timestamp)]) {
        case (acc, (_, st, ts, _)) =>
          if (acc.lastOption.exists(_._1 == st)) acc else acc :+ (st -> ts)
      }
      changes.zipWithIndex.map { case ((st, from), i) =>
        val to = changes.lift(i + 1).map(c => fmt.format(c._2))
          .getOrElse("9999-12-31 23:59:59")
        (uid, st, fmt.format(from), to, i + 1, i == changes.size - 1)
      }
    }.toSet
    val got = Relational.scd2History(spark, sf0001)
      .as[(Long, String, String, String, Int, Boolean)].collect()
    assert(got.toSet == want)
    // invariants: exactly one open row per user; versions dense from 1;
    // consecutive rows chain valid_to -> next valid_from; no no-op rows
    got.groupBy(_._1).foreach { case (uid, rows) =>
      assert(rows.count(_._6) == 1, s"user $uid open rows != 1")
      val byV = rows.sortBy(_._5)
      assert(byV.map(_._5).toSeq == (1 to rows.length), s"user $uid versions not dense")
      byV.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4 == b._3, s"user $uid: interval chain broken at v${a._5}")
          assert(a._2 != b._2, s"user $uid: consecutive equal states survived collapse")
        case _ =>
      }
    }
  }

  test("zorderLayout: bucket stats match a driver interleave replay; tiles bound both dims") {
    import spark.implicits._
    def spread(v: Long): Long = {
      var x = v & 0xFFFFL
      x = (x | (x << 8)) & 0x00FF00FFL
      x = (x | (x << 4)) & 0x0F0F0F0FL
      x = (x | (x << 2)) & 0x33333333L
      (x | (x << 1)) & 0x55555555L
    }
    val epoch = java.time.LocalDate.parse("1992-01-01")
    val rows = graft.Tables.load(spark, sf001, "orders")
      .select($"o_custkey".cast("long"), col("o_orderdate").cast("date"))
      .as[(Long, java.sql.Date)].collect()
      .map { case (c, d) =>
        val day = java.time.temporal.ChronoUnit.DAYS
          .between(epoch, d.toLocalDate)
        (c, day, (spread(c) | (spread(day) << 1)) >> 22)
      }
    val want = rows.groupBy(_._3).map { case (zb, rs) =>
      (zb, rs.length.toLong, rs.map(_._1).min, rs.map(_._1).max,
        rs.map(_._2).min.toInt, rs.map(_._2).max.toInt)
    }.toSet
    val got = Relational.zorderLayout(spark, sf001)
      .as[(Long, Long, Long, Long, Int, Int)].collect()
    assert(got.toSet == want)
    // the zone-map guarantee: dropping 22 interleaved low bits leaves the
    // top 5 bits of EACH 16-bit dim, so every bucket tiles BOTH dims into
    // spans < 2^11 — a range predicate on either column prunes buckets
    got.foreach { case (zb, _, cMin, cMax, dMin, dMax) =>
      assert(cMax - cMin < 2048, s"bucket $zb cust span ${cMax - cMin}")
      assert(dMax - dMin < 2048, s"bucket $zb day span ${dMax - dMin}")
    }
  }

  test("zorderWrite: point predicates on EITHER dim prune most written files") {
    import spark.implicits._
    val out = tempDir("graft-zorder")
    Relational.zorderWrite(spark, sf001, out, files = 16)
    val files = new java.io.File(out).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.getPath).sorted
    assert(files.length >= 8, s"expected a multi-file layout, got ${files.length}")
    val epoch = java.time.LocalDate.parse("1992-01-01")
    // per-file zone maps, as a scan would read them from the footers
    val zones = files.map { f =>
      val r = spark.read.parquet(f)
        .select($"o_custkey".cast("long"), col("o_orderdate").cast("date"))
        .as[(Long, java.sql.Date)].collect()
      val days = r.map(x => java.time.temporal.ChronoUnit.DAYS.between(epoch, x._2.toLocalDate))
      (r.map(_._1).min, r.map(_._1).max, days.min, days.max)
    }
    val (cLo, cHi) = (zones.map(_._1).min, zones.map(_._2).max)
    val (dLo, dHi) = (zones.map(_._3).min, zones.map(_._4).max)
    // probe mid-domain point predicates; a z-layout must skip most files on
    // BOTH columns (a single-column sort would pass only its own column)
    val custProbe = (cLo + cHi) / 2
    val dayProbe = (dLo + dHi) / 2
    val custHit = zones.count(z => z._1 <= custProbe && custProbe <= z._2)
    val dayHit = zones.count(z => z._3 <= dayProbe && dayProbe <= z._4)
    assert(custHit <= files.length / 2,
      s"custkey=$custProbe admitted by $custHit/${files.length} files — no cust locality")
    assert(dayHit <= files.length / 2,
      s"day=$dayProbe admitted by $dayHit/${files.length} files — no day locality")
    // and the layout is lossless: same rows as the source
    val back = spark.read.parquet(out).count()
    assert(back == graft.Tables.load(spark, sf001, "orders").count())
  }

  test("epochPlan: copies match a driver md5 replay; the plan is map-only (zero Exchange)") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    def h32(s: String): Long = java.lang.Long.parseLong(md5hex(s).substring(0, 8), 16)
    val docs = graft.Tables.load(spark, sf0001, "documents")
      .select($"doc_id".cast("long"), $"source").as[(Long, String)].collect()
    val want = docs.flatMap { case (id, src) =>
      val wm = 500L + (src.replaceAll("^\\D+", "").toLong % 7) * 350L
      val copies = wm / 1000 + (if (h32(id.toString) * 1000L < (wm % 1000) * 4294967296L) 1 else 0)
      (1L to copies).map(ci => (id, src, ci.toInt, (h32(s"${id}_$ci") % 16).toInt))
    }.toSet
    val plan = TextOps.epochPlan(spark, sf0001)
    assert(plan.as[(Long, String, Int, Int)].collect().toSet == want)
    // the 100 TB property: repetition + placement is one scan-to-write
    // pipeline — no shuffle may appear anywhere in the plan
    val phys = plan.queryExecution.executedPlan.toString
    assert(!phys.contains("Exchange"), s"epochPlan must be map-only:\n$phys")
  }

  test("gapFillHourly: dense axis, zero-filled gaps, totals preserved") {
    import spark.implicits._
    val got = Relational.gapFillHourly(spark, sf001)
      .as[(String, String, Long, Long)].collect()
    val types = got.map(_._1).toSet
    val hours = got.map(_._2).toSet
    // complete grid: every (type, hour) slot exactly once
    assert(got.length == types.size * hours.size)
    assert(got.groupBy(r => (r._1, r._2)).forall(_._2.length == 1))
    // the fixture actually has gaps, and they are zero-filled on BOTH measures
    val gaps = got.filter(_._3 == 0L)
    assert(gaps.nonEmpty, "sf0.01 hourly grid should contain empty slots")
    assert(gaps.forall(_._4 == 0L))
    // re-gridding must not invent or lose events
    val totalCt = got.map(_._3).sum
    assert(totalCt == graft.Tables.load(spark, sf001, "events").count())
  }
}
