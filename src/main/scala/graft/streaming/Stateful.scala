package graft.streaming

import java.time.{Instant, LocalDate, ZoneOffset}

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The reference's keyed-state operators, re-expressed with
  * `flatMapGroupsWithState` — the only pieces of the gmall pipelines with no
  * declarative Spark equivalent (SURVEY.md §4):
  *
  *  - [[repairIsNew]]   ← A16, BaseLogApp.java:156-204 (ValueState firstVisitDate)
  *  - [[dailyUv]]       ← A17, UniqueVisitApp.java:41-74 (ValueState + 1-day TTL)
  *  - [[detectBounces]] ← A18, UserJumpDetailApp.java:51-92 (CEP within-10s timeout)
  *
  * All three key by `mid` (device id) — at scale the state shuffle partitions by
  * device, state per key is O(1) (a date string / one buffered event), and
  * event-time timeouts bound state growth exactly like the reference's
  * StateTtlConfig / CEP `within`.
  *
  * Semantics are event-time per-group; within a micro-batch the group iterator
  * is processed in `ts` order (events of one key may arrive unsorted in a
  * batch — the reference sees them one at a time in arrival order, but sorts
  * implicitly by single-event processing; we sort explicitly for determinism).
  */
object Stateful {

  private def dayOf(tsMillis: Long): String =
    LocalDate.ofInstant(Instant.ofEpochMilli(tsMillis), ZoneOffset.UTC).toString

  // ---------------- A16: new-visitor flag repair ----------------

  /** Per-mid ValueState[firstVisitDate]: an event claiming `is_new=1` on a later
    * day than the device's first-visit date is rewritten to `is_new=0`. */
  def repairIsNew(events: Dataset[LogEvent]): Dataset[LogEvent] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.mid)
      .flatMapGroupsWithState[String, LogEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, it: Iterator[LogEvent], state: GroupState[String]) =>
          val sorted = it.toSeq.sortBy(e => (e.ts, e.page_id))
          val out = sorted.map { e =>
            // EXACT reference machine (BaseLogApp.java:177-201): only
            // is_new=1 events read or write the state — an is_new=0 event
            // passes through untouched and does NOT mark the device as seen
            if (e.is_new != "1") e
            else state.getOption match {
              case Some(first) if first != dayOf(e.ts) => e.copy(is_new = "0")
              case Some(_) => e
              case None => state.update(dayOf(e.ts)); e
            }
          }
          out.iterator
      }
  }

  /** [[repairIsNew]] over the FULL parsed log row, run BEFORE the 3-way split —
    * the reference's operator order (BaseLogApp.java:156-204 repairs, :213-257
    * splits), so start and display outputs also carry the repaired flag.
    * Same per-mid ValueState[firstVisitDate] semantics as the LogEvent twin. */
  def repairIsNewRaw(logs: Dataset[RawLog]): Dataset[RawLog] = {
    import logs.sparkSession.implicits._
    logs
      .groupByKey(_.common.mid)
      .flatMapGroupsWithState[String, RawLog](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, it: Iterator[RawLog], state: GroupState[String]) =>
          val sorted = it.toSeq.sortBy(e => (e.ts, e.page.flatMap(p => Option(p.page_id))))
          val out = sorted.map { e =>
            if (e.common.is_new != "1") e
            else state.getOption match {
              case Some(first) if first != dayOf(e.ts) =>
                e.copy(common = e.common.copy(is_new = "0"))
              case Some(_) => e
              case None => state.update(dayOf(e.ts)); e
            }
          }
          out.iterator
      }
  }

  // ---------------- A17: daily unique-visitor dedup ----------------

  /** Per-mid ValueState[lastVisitDate] with a 1-day event-time TTL: keep only
    * each device's first session-entry event (`last_page_id` empty) per day.
    * Requires a watermark on the input for the timeout clock. */
  def dailyUv(events: Dataset[LogEvent]): Dataset[LogEvent] = {
    import events.sparkSession.implicits._
    events
      // column predicate (not a typed lambda): stays in codegen before the shuffle
      .filter(org.apache.spark.sql.functions.col("last_page_id").isNull ||
        org.apache.spark.sql.functions.col("last_page_id") === "")
      .as[LogEvent]
      .groupByKey(_.mid)
      .flatMapGroupsWithState[String, LogEvent](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: String, it: Iterator[LogEvent], state: GroupState[String]) =>
          if (state.hasTimedOut) { // TTL expired: evict, exactly StateTtlConfig(1d)
            state.remove()
            Iterator.empty
          } else {
            val sorted = it.toSeq.sortBy(_.ts)
            val out = scala.collection.mutable.ArrayBuffer.empty[LogEvent]
            sorted.foreach { e =>
              val day = dayOf(e.ts)
              if (!state.getOption.contains(day)) { state.update(day); out += e }
            }
            // TTL parity with StateTtlConfig(1 day): evict at last event + 24h
            state.setTimeoutTimestamp(sorted.last.ts + 86400000L)
            out.iterator
          }
      }
  }

  // ---------------- A18: bounce (jump) detection ----------------

  /** CEP port: a session-entry event (`last_page_id` empty) with NO follow-up
    * page view for the same mid within `gapMillis` is a bounce. Matched pairs
    * are discarded; the timed-out entry event is the result — exactly the
    * reference's timeout-branch semantics. Emission happens either when a
    * later event proves the gap (in-batch) or via event-time timeout once the
    * watermark passes entry_ts + gap. */
  def detectBounces(events: Dataset[LogEvent], gapMillis: Long = 10000L): Dataset[LogEvent] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.mid)
      .flatMapGroupsWithState[BounceState, LogEvent](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: String, it: Iterator[LogEvent], state: GroupState[BounceState]) =>
          if (state.hasTimedOut) {
            // watermark passed pending.ts + gap with no follow-up: bounce
            val out = state.getOption.map(_.pending).toList
            state.remove()
            out.iterator
          } else {
            val sorted = it.toSeq.sortBy(_.ts)
            val out = scala.collection.mutable.ArrayBuffer.empty[LogEvent]
            var pending = state.getOption.map(_.pending)
            sorted.foreach { e =>
              pending match {
                case Some(p) =>
                  if (e.ts > p.ts + gapMillis) { out += p; pending = None }
                  else if (e.ts >= p.ts && e.page_id.exists(_.nonEmpty)) {
                    // later-or-equal page view within the gap: the reference's
                    // next("next").where(page_id != null) match — not a bounce.
                    // Equal timestamps count (coarse client clocks emit the
                    // follow-up in the same millisecond); genuinely earlier
                    // out-of-order events (e.ts < p.ts) must NOT cancel, and
                    // non-page events don't satisfy the CEP next-condition.
                    pending = None
                  }
                case None =>
              }
              // session entry = a PAGE event with no predecessor page
              if (pending.isEmpty && e.page_id.exists(_.nonEmpty) &&
                  e.last_page_id.forall(_.isEmpty)) pending = Some(e)
            }
            pending match {
              case Some(p) =>
                state.update(BounceState(p))
                state.setTimeoutTimestamp(p.ts + gapMillis)
              case None => state.remove()
            }
            out.iterator
          }
      }
  }

  case class BounceState(pending: LogEvent)

  // ---------------- streaming AS-OF join ----------------

  /** One side of the streaming as-of input: `view_id` set for view events,
    * `purchase_id` set for purchases (mirrors the batch asofJoin's tag). */
  case class AsofEvent(user_id: Long, ts: Long,
                       view_id: Option[Long], purchase_id: Option[Long])

  case class AsofMatch(user_id: Long, purchase_id: Long, asof_view_id: Option[Long])

  /** Streaming twin of `Relational.asofJoin` (q52): per-user ValueState holds
    * the latest view at or before "now"; each purchase emits its as-of match
    * IMMEDIATELY — O(1) state per user, no buffering of the purchase side.
    * This is the production real-time shape of an as-of join: the batch twin
    * proves the semantics against DuckDB's native ASOF JOIN, this one carries
    * them at streaming latency (same-batch events are processed in ts order;
    * a view and purchase at the SAME ts match, as in the batch tie rule). */
  def streamingAsof(events: Dataset[AsofEvent]): Dataset[AsofMatch] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long), AsofMatch](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[AsofEvent], state: GroupState[(Long, Long)]) =>
          // state = (latest view ts, latest view id); views sort before
          // purchases at equal ts so same-instant views are visible
          val sorted = it.toSeq.sortBy(e => (e.ts, e.purchase_id.isDefined, e.view_id, e.purchase_id))
          val out = scala.collection.mutable.ArrayBuffer.empty[AsofMatch]
          var last = state.getOption
          sorted.foreach { e =>
            e.view_id.foreach { v =>
              // keep max view id at equal ts (the batch dedup rule)
              if (last.forall(l => e.ts > l._1 || (e.ts == l._1 && v > l._2)))
                last = Some((e.ts, v))
            }
            e.purchase_id.foreach { p =>
              out += AsofMatch(user, p, last.map(_._2))
            }
          }
          last match {
            case Some(l) => state.update(l)
            case None =>
          }
          out.iterator
      }
  }
}
