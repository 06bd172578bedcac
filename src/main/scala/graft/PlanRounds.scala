package graft

import org.apache.spark.sql.SparkSession

/** Dev tool (VERDICT r17 #4): capture EVERY executed plan an iterative
  * query runs — the per-round loop actions the result-frame `.explain`
  * cannot show — and write them to one file per query, so `plans/rNN/`
  * can carry evidence in which a claimed per-round node-count change is
  * visibly present. Uses the ExecutedPlanSpec listener idiom.
  *
  * usage: runMain graft.PlanRounds <qNN[,qNN...]> <outDir> [sfDir]
  */
object PlanRounds {
  def main(args: Array[String]): Unit = {
    val prefixes = args.headOption.map(_.split(',').toSeq)
      .getOrElse(sys.error("usage: PlanRounds <qNN[,qNN...]> <outDir> [sfDir]"))
    val outDir = java.nio.file.Paths.get(
      args.lift(1).getOrElse(sys.error("usage: PlanRounds <qNN[,qNN...]> <outDir> [sfDir]")))
    val dir = args.lift(2).getOrElse("/root/testdata/sf0.01")
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(outDir)
    SparkEntry.queries.filter { case (n, _) => prefixes.exists(n.startsWith) }
      .toSeq.sortBy(_._1).foreach { case (name, fn) =>
        val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
        val listener = new org.apache.spark.sql.util.QueryExecutionListener {
          override def onSuccess(f: String,
                                 qe: org.apache.spark.sql.execution.QueryExecution,
                                 d: Long): Unit =
            plans.add(qe.executedPlan.toString)
          override def onFailure(f: String,
                                 qe: org.apache.spark.sql.execution.QueryExecution,
                                 e: Exception): Unit = ()
        }
        spark.listenerManager.register(listener)
        try {
          fn(spark, dir).count()
          // the listener bus fires asynchronously: drain it so no late plan
          // is dropped
          org.apache.spark.ListenerBusDrain(spark.sparkContext)
        } finally spark.listenerManager.unregister(listener)
        import scala.jdk.CollectionConverters._
        val body = plans.asScala.zipWithIndex
          .map { case (p, i) => s"----- action ${i + 1} -----\n$p" }
          .mkString("\n")
        java.nio.file.Files.writeString(outDir.resolve(s"$name.actions.txt"), body)
        println(s"$name: ${plans.size} action plans -> $outDir")
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      }
    spark.stop()
  }
}
