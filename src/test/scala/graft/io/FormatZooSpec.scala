package graft.io

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Substantiates COVERAGE §E's "file-format scans come free from Spark":
  * the warehouse tables round-trip byte-equal through every bundled
  * format, and the columnar ones keep the scan-level optimizations the
  * 100 TB plans rely on (predicate pushdown + column pruning visible in
  * the executed plan, partition pruning over a partitioned layout). All
  * repo IO stays parquet; this pins that a deployment mandating ORC (or
  * landing zones in CSV/JSON) swaps `format(...)` with nothing else
  * changing. */
class FormatZooSpec extends SparkSuite {

  private def lineitem = graft.Tables.load(spark, sf001, "lineitem")
    .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate")

  test("lineitem round-trips byte-equal through orc, csv, and json") {
    val src = lineitem
    val root = tempPath("graft-formats")
    for (fmt <- Seq("orc", "csv", "json")) {
      val path = root.resolve(fmt).toString
      src.write.format(fmt).option("header", "true").save(path)
      val back = spark.read.format(fmt)
        .schema(src.schema) // csv/json are schema-on-read; pin the source schema
        .option("header", "true").load(path)
      assert(back.count() == src.count(), s"$fmt row count")
      assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty,
        s"$fmt round-trip must be byte-equal")
    }
  }

  test("orc keeps pushdown + pruning; partitioned layout prunes partitions") {
    val root = tempPath("graft-orc")
    lineitem.write.format("orc").save(root.resolve("flat").toString)
    val plan = spark.read.format("orc").load(root.resolve("flat").toString)
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_quantity")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)]"),
      s"the filter must reach the ORC scan:\n$plan")
    // pruned ReadSchema: only the filter + projection columns are read
    assert(!plan.contains("l_shipdate"),
      s"unprojected columns must not be scanned:\n$plan")

    Io.writePartitioned(lineitem, root.resolve("bydate").toString, Seq("l_returnflag"))
    val part = spark.read.parquet(root.resolve("bydate").toString)
      .filter(col("l_returnflag") === "R")
      .queryExecution.executedPlan.toString
    assert(part.contains("PartitionFilters: [isnotnull(l_returnflag"),
      s"partition pruning must appear in the scan:\n$part")
  }
}
