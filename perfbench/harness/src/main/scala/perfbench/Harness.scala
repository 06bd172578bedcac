package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What a workload hands back to `run.py`: raw samples for the end-to-end
  * metrics, per-layer numbers (traced runs), and the outcome of every
  * checked operation. */
final class Result {
  val samples: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  val layers: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  var attempted = 0L
  var failed = 0L

  /** Count one checked operation; `error` = None means it passed. */
  def op(error: Option[String]): Unit = synchronized {
    attempted += 1
    error.foreach(fail)
  }

  /** Mark an operation already counted as passed by [[op]] as failed. */
  def fail(error: String): Unit = synchronized {
    failed += 1
    failures += error
    System.err.println(s"[perfbench] FAILED: $error")
  }
}

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: String, gen: String, sf: String, master: Option[String],
                      cpus: Int)

trait Workload {
  def session(a: Args): SparkSession.Builder
  /** Table reads / JIT the workload needs before its timed part. */
  def warm(spark: SparkSession, a: Args, r: Result): Unit
  def run(spark: SparkSession, a: Args, t: Trace, r: Result): Unit
}

object Harness {
  val SetupRepeats = 3

  def base(appName: String): SparkSession.Builder = SparkSession.builder()
    .appName(appName)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")

  /** `Mains.main`'s session: local[*], 32 shuffle partitions, state API v1. */
  def streamSession(a: Args): SparkSession.Builder =
    base("perfbench-stream").master(a.master.getOrElse("local[*]"))
      .config("spark.sql.shuffle.partitions", 32)

  /** `Bench`'s session: local[cpus], partitions = cpus, 8 MB splits. */
  def batchSession(a: Args): SparkSession.Builder =
    base("perfbench-batch").master(a.master.getOrElse(s"local[${a.cpus}]"))
      .config("spark.sql.shuffle.partitions", a.cpus)
      .config("spark.sql.files.maxPartitionBytes", "8m")

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m.get("trace").contains("1"),
      m("work"), m("gen"), m("sf"), m.get("master"),
      m.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()))
  }

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  /** Sum of the heap pools' peak use: the part of memory the fixed,
    * pre-touched heap hides from `peak_rss_mb`. */
  def heapPeakMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w: Workload = a.workload match {
      case "ods_drain" => new Drain(graft.apps.Mains.appNames.map(app => AppRun(app, app)), threads = 4)
      // one app at a time: each app run is timed without the others' jobs
      // queued in front of its own; base_log also drains the wide-device
      // backlog, a second point on state size
      case "dwd_drain" => new Drain(Seq(AppRun("base_log", "base_log"),
        AppRun("base_log_wide", "base_log", backlog = "wide"), AppRun("base_db", "base_db")), threads = 1)
      case "ods_paced" => new Paced
      case "maintain_epochs" => new Maintain
      case "batch_mix" => new BatchMix
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val r = new Result
    val trace = new Trace(a.trace)
    // set-up is repeated and the median reported, so work moved into set-up
    // shows without one cold JVM dominating the figure
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 1 to SetupRepeats) {
      val t0 = System.nanoTime()
      spark = w.session(a).getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      w.warm(spark, a, r)
      setups += (System.nanoTime() - t0) / 1e9
      if (i < SetupRepeats) spark.stop()
    }
    r.samples("setup_s") = setups.toList
    trace.attach(spark)
    val t0 = System.nanoTime()
    trace.span("workload", a.workload, Some(spark.sparkContext)) {
      w.run(spark, a, trace, r)
    }
    val wallMs = (System.nanoTime() - t0) / 1e6
    if (a.trace) {
      org.apache.spark.BusDrain.drain(spark.sparkContext)
      val e = trace.engine
      r.layers ++= Seq(
        "spark.jobs" -> e.jobs.toDouble, "spark.stages" -> e.stages.toDouble,
        "spark.tasks" -> e.tasks.toDouble,
        "spark.shuffle_read_bytes" -> e.shuffleRead.toDouble,
        "spark.shuffle_write_bytes" -> e.shuffleWrite.toDouble,
        "spark.spill_bytes" -> e.spill.toDouble,
        "spark.executor_run_ms" -> e.runMs.toDouble,
        "spark.cpu_util" -> trace.cpuUtil(wallMs, spark.sparkContext.defaultParallelism))
    }
    trace.detach(spark)
    r.samples("peak_rss_mb") = peakRssMb()
    if (a.trace) r.layers("jvm.heap_peak_mb") = heapPeakMb()
    r.samples("workload_wall_ms") = wallMs
    spark.stop()
    val json = Json.obj(
      "attempted" -> r.attempted, "failed" -> r.failed,
      "failures" -> r.failures.toList, "samples" -> r.samples.toMap,
      "layers" -> r.layers.toMap,
      "spans" -> trace.all.map(s => Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
        "name" -> s.name, "start" -> s.startMs, "end" -> s.endMs)))
    Files.writeString(Paths.get(a.work, "result.json"), json)
  }

  def dirBytes(path: String): (Long, Long) = {
    val f = new File(path)
    if (!f.exists) (0L, 0L)
    else {
      val files = Files.walk(f.toPath).filter(p => Files.isRegularFile(p)).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .filterNot(p => p.getFileName.toString.startsWith(".") || p.toString.contains("_spark_metadata"))
      (files.length.toLong, files.map(p => Files.size(p)).sum)
    }
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b ++= "\""
    b.toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Long => n.toString
    case n: Int => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String = value(kv.toMap)
}
