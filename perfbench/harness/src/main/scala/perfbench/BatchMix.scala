package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.{SparkEntry, Tables}
import org.apache.spark.sql.SparkSession

/** Closed loop, one client: 7 of the reference-operator batch twins and 3 of
  * the iterative / shuffle-heavy queries, in seeded order, after one untimed
  * execution of each twin. Each result is written out, so run.py can check it
  * against the DuckDB oracle. */
final class BatchMix extends Workload {
  val twins: Seq[String] = Seq("q01", "q05", "q07", "q08", "q09", "q13", "q17")
  val iterative: Seq[String] = Seq("q32", "q154", "q159")
  /** The operator module each query's implementation lives in. */
  val module: Map[String, String] = Map("q32" -> "Dedup").withDefaultValue("Relational")

  def session(a: Args): SparkSession.Builder = Harness.batchSession(a)

  def warm(spark: SparkSession, a: Args, r: Result): Unit = {
    val t0 = System.nanoTime()
    Tables.names.foreach(n => Tables.load(spark, a.sf, n).count())
    r.samples("tables_load_ms") = r.samples.getOrElse("tables_load_ms", List.empty[Double])
      .asInstanceOf[List[Double]] :+ (System.nanoTime() - t0) / 1e6
  }

  def run(spark: SparkSession, a: Args, t: Trace, r: Result): Unit = {
    val all = SparkEntry.queries
    val byPrefix = all.keys.map(k => k.takeWhile(_ != '_') -> k).toMap
    val names = (twins ++ iterative).map(byPrefix)
    // Each twin runs once, untimed, before the timed part: first executions
    // pay for code generation and JIT warm-up, which spread from run to run
    // more than the short twins themselves (a cold round took 2x a warm one).
    // A timed round is the 7 twins in seeded order, then one iterative query
    // on its first execution (warming those too would cost ~11 s a run). The
    // latency operation is a round's 7 twins, the same work in every round:
    // medians over single executions moved with which query landed in the
    // middle, and medians over whole rounds with which iterative query did.
    val rng = new scala.util.Random(a.seed)
    val warmUp = rng.shuffle(twins.map(byPrefix))
    val rounds = iterative.map(q => (rng.shuffle(twins.map(byPrefix)), byPrefix(q)))
    // the layout tools/check_correctness.py reads: <dir>/oracle_sql.json
    // beside one <dir>/<name>/ parquet result per query
    val oracle = SparkEntry.oracleSql
    val mixDir = Files.createDirectories(Paths.get(a.work, "mix"))
    Files.writeString(mixDir.resolve("oracle_sql.json"), Json.value(names.map(n => n -> oracle(n)).toMap))
    val execs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val twinRounds = mutable.ArrayBuffer.empty[Double]
    val passes = mutable.ArrayBuffer.empty[Double]
    val qSpans = mutable.Map.empty[String, Seq[Long]].withDefaultValue(Nil)
    val sc = spark.sparkContext
    def execute(name: String, timed: Boolean = true): Unit = {
      val q0 = System.nanoTime()
      val err = try {
        t.span("query", name, Some(sc)) {
          if (timed) qSpans(name) :+= t.currentId
          all(name)(spark, a.sf).write.mode("overwrite").parquet(s"$mixDir/$name")
        }
        None
      } catch { case NonFatal(e) => Some(s"$name: ${e.getMessage}") }
      val sec = (System.nanoTime() - q0) / 1e9
      System.err.println(f"[perfbench] $name $sec%.2f s")
      // queries are independent: release anything one persisted (as Bench does)
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      r.op(err)
      if (timed) execs += Map("name" -> name, "s" -> sec)
    }
    val w0 = System.nanoTime()
    warmUp.foreach(execute(_, timed = false))
    val warmUpSec = (System.nanoTime() - w0) / 1e9
    val t0 = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      val p0 = System.nanoTime()
      rounds.foreach { case (round, q) =>
        val r0 = System.nanoTime()
        round.foreach(execute(_))
        twinRounds += (System.nanoTime() - r0) / 1e9
        execute(q)
      }
      passes += (System.nanoTime() - p0) / 1e9
    }
    r.samples("queries") = execs.toList
    r.samples("twin_rounds_s") = twinRounds.toList
    r.samples("passes_s") = passes.toList
    r.samples("mix_dir") = mixDir.toString
    if (t.enabled) {
      org.apache.spark.BusDrain.drain(sc)
      val secs = execs.groupBy(_("name").toString).map { case (n, xs) =>
        n.takeWhile(_ != '_') -> xs.map(_("s").asInstanceOf[Double]).sum / passes.size }
      iterative.foreach { q =>
        r.layers(s"query.$q.s") = secs(q)
        r.layers(s"query.$q.jobs") = qSpans(byPrefix(q)).map(Trace.jobsUnder(t, _)).sum.toDouble / passes.size
      }
      Seq("Relational", "TextOps", "Dedup", "Similarity").foreach { m =>
        r.layers(s"operators.$m.s") = secs.filter { case (q, _) => module(q) == m }.values.sum
      }
      val loads = r.samples("tables_load_ms").asInstanceOf[List[Double]].sorted
      r.layers("Tables.load_ms") = loads(loads.size / 2)
      r.layers("query.warmup_s") = warmUpSec
    }
  }
}
