package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One closed interval of the benchmark's own call tree. Spans nest
  * workload → app / query / applyBatch → micro-batch / Spark job → stage. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      startMs: Double, endMs: Double)

/** In-memory span recorder plus the Spark listeners that feed it. Disabled
  * (no listener registered, `span` only runs its body) on untraced runs, so
  * the end-to-end numbers are measured without it. */
final class Trace(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }
  val PropKey = "perfbench.span"

  private def nowMs: Double = System.currentTimeMillis().toDouble

  def add(s: Span): Unit = spans.synchronized { spans += s }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  def currentId: Long = current.get()

  /** Time `body` as a child of the calling thread's current span. Jobs that
    * `body` submits carry the span id as a local property, so the listener
    * hangs them (and the streaming queries they start) under it. */
  def span[T](kind: String, name: String, sc: Option[SparkContext] = None,
              parent: Long = -1L)(body: => T): T = {
    if (!enabled) return body
    val id = ids.incrementAndGet()
    val p = if (parent >= 0) parent else current.get().longValue
    val prev = current.get()
    val prevProp = sc.map(_.getLocalProperty(PropKey))
    current.set(id)
    sc.foreach(_.setLocalProperty(PropKey, id.toString))
    val t0 = nowMs
    try body
    finally {
      add(Span(id, p, kind, name, t0, nowMs))
      current.set(prev)
      sc.foreach(_.setLocalProperty(PropKey, prevProp.orNull))
    }
  }

  def newId(): Long = ids.incrementAndGet()

  // ---------------- Spark engine, as seen by listeners ----------------

  final class EngineStats {
    var jobs, stages, tasks = 0L
    var shuffleRead, shuffleWrite, spill, runMs, cpuNs = 0L
  }
  val engine = new EngineStats
  /** Jobs per owning span id (the span that submitted them). */
  val jobsBySpan: mutable.Map[Long, Long] = mutable.Map.empty.withDefaultValue(0L)
  private val jobSpan = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Long]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = engine.synchronized {
      val owner = Option(e.properties).flatMap(p => Option(p.getProperty(PropKey)))
        .map(_.toLong).getOrElse(0L)
      val id = newId()
      jobSpan(e.jobId) = id
      e.stageIds.foreach(s => stageJob(s) = id)
      jobsBySpan(owner) += 1
      engine.jobs += 1
      add(Span(id, owner, "job", s"job ${e.jobId}", e.time.toDouble, e.time.toDouble))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = engine.synchronized {
      jobSpan.remove(e.jobId).foreach { id =>
        spans.synchronized {
          val i = spans.lastIndexWhere(_.id == id)
          if (i >= 0) spans(i) = spans(i).copy(endMs = e.time.toDouble)
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = engine.synchronized {
      val si = e.stageInfo
      engine.stages += 1
      engine.tasks += si.numTasks
      val m = si.taskMetrics
      if (m != null) {
        engine.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        engine.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        engine.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        engine.runMs += m.executorRunTime
        engine.cpuNs += m.executorCpuTime
      }
      val parent = stageJob.getOrElse(si.stageId, 0L)
      for (s <- si.submissionTime; c <- si.completionTime)
        add(Span(newId(), parent, "stage", s"stage ${si.stageId}", s.toDouble, c.toDouble))
    }
  }

  // ---------------- streaming progress ----------------

  /** Every progress event, keyed later to its app by query id. */
  val progress: mutable.ArrayBuffer[StreamingQueryListener.QueryProgressEvent] =
    mutable.ArrayBuffer.empty

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized { progress += e }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
  }

  /** Micro-batch spans under the app span that started each query. */
  def addBatchSpans(appOfQuery: Map[java.util.UUID, (String, Long)]): Unit =
    progress.synchronized(progress.toList).foreach { e =>
      val p = e.progress
      appOfQuery.get(p.id).foreach { case (app, parent) =>
        val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val dur = Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)
        add(Span(newId(), parent, "batch", s"$app#${p.batchId}", t0, t0 + dur))
      }
    }

  def cpuUtil(wallMs: Double, cores: Int): Double =
    if (wallMs <= 0) 0.0 else engine.cpuNs / 1e6 / (wallMs * cores)
}

object Trace {
  def jobsUnder(t: Trace, root: Long): Long = {
    val kids = t.all.groupBy(_.parent)
    def walk(id: Long): Long =
      t.jobsBySpan.getOrElse(id, 0L) +
        kids.getOrElse(id, Nil).filter(_.kind != "job").map(s => walk(s.id)).sum
    walk(root)
  }

  def progressOf(t: Trace, ids: Set[java.util.UUID]) =
    t.progress.synchronized(t.progress.toList).map(_.progress).filter(p => ids.contains(p.id))
}
