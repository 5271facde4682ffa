package graft

import graft.tools.PlanDump
import org.apache.spark.sql.functions._

/** PlanDump's audit counts exchanges as plan nodes, not as plan lines. */
class PlanDumpSpec extends SparkSpec {

  test("exchanges: distinct shuffles and broadcasts, reused apart") {
    val agg = spark.range(1000).groupBy((col("id") % 10).as("k")).count()
    val df = agg.join(agg.withColumnRenamed("count", "c2"), "k")
    df.queryExecution.executedPlan.execute().count()
    val ex = PlanDump.exchanges(df.queryExecution.executedPlan)
    assert(ex == PlanDump.Exchanges(shuffles = 1, broadcasts = 1, reused = 1))
  }
}
