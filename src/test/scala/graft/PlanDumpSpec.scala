package graft

import graft.tools.PlanDump
import org.apache.spark.sql.functions._

/** PlanDump's audit counts exchanges and joins as plan nodes, not as
  * plan lines, and names each scan's partition filters. */
class PlanDumpSpec extends SparkSpec {

  test("exchanges: distinct shuffles and broadcasts, reused apart") {
    val agg = spark.range(1000).groupBy((col("id") % 10).as("k")).count()
    val df = agg.join(agg.withColumnRenamed("count", "c2"), "k")
    df.queryExecution.executedPlan.execute().count()
    val ex = PlanDump.exchanges(df.queryExecution.executedPlan)
    assert(ex == PlanDump.Exchanges(shuffles = 1, broadcasts = 1, reused = 1))
    assert(PlanDump.joins(df.queryExecution.executedPlan) ==
      PlanDump.Joins(broadcastHash = 1, sortMerge = 0))
  }

  test("partitionFilters: one entry per scan, [] when nothing is pruned") {
    val path = tmpDir("plandump") + "/t"
    spark.range(20).withColumn("p", col("id") % 4)
      .write.partitionBy("p").parquet(path)
    def filters(df: org.apache.spark.sql.DataFrame) = {
      df.queryExecution.executedPlan.execute().count()
      PlanDump.partitionFilters(df.queryExecution.executedPlan)
    }
    val pruned = filters(spark.read.parquet(path).filter(col("p") === 2))
    assert(pruned.size == 1 && pruned.head.contains("(p#") &&
      pruned.head.contains("= 2)"), pruned)
    assert(filters(spark.read.parquet(path).filter(col("id") === 2)) ==
      Seq("[]"))
  }

  test("expressionNodes: every node of every expression, subqueries too") {
    def nodes(df: org.apache.spark.sql.DataFrame) =
      PlanDump.expressionNodes(df.queryExecution.optimizedPlan)
    val base = spark.range(10).toDF()
    // one Project holding Alias(Add(id, 1))
    assert(nodes(base.select((col("id") + 1).as("x"))) == nodes(base) + 4)
    val viaLiteral = spark.sql("SELECT id FROM range(10) WHERE id > 3")
    val viaSubquery = spark.sql(
      "SELECT id FROM range(10) WHERE id > (SELECT max(id) FROM range(5))")
    // the subquery's plan (Aggregate over Range) is counted, not just
    // the node that stands for it
    assert(nodes(viaSubquery) >= nodes(viaLiteral) + 4)
  }
}
