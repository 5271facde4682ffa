package graft.tools

import graft.SparkEntry
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike,
  ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  SortMergeJoinExec}

/** Plan auditor: writes `.explain("formatted")` of the FINAL adaptive
  * plan for each named query to `<outDir>/<query>_<suffix>.txt` — the
  * before/after plan evidence the optimization rounds commit under
  * `plans/rNN/`.
  *
  *   sbt "runMain graft.tools.PlanDump <outDir> <suffix> <query...>"
  *
  * The plan is EXECUTED first so AQE finalizes stages (a pre-execution
  * explain shows isFinalPlan=false with zero codegen spans), then the
  * formatted mode string is persisted under a one-line audit of the
  * properties that matter at scale: shuffle, broadcast and reused
  * exchanges (see [[exchanges]]), join strategies (see [[joins]]),
  * whole-stage codegen spans, the optimized plan's expression nodes
  * (see [[expressionNodes]]), partition pruning (PartitionFilters, see
  * [[partitionFilters]]), predicate pushdown (PushedFilters) and
  * column pruning (ReadSchema). Uses the bench's own session shape
  * (local[32], shuffle.partitions=cpus) so plan shapes match what
  * Bench times.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <query...>")
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    val names = args.drop(2).toSeq
    Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.get(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    for (n <- names) {
      graft.CacheRegistry.release()
      spark.catalog.clearCache()
      val df = SparkEntry.queries(n)(spark, sfDir)
      // execute the plan itself (not a count() wrapper, which builds a
      // different QueryExecution), then audit the final adaptive plan
      df.queryExecution.executedPlan.execute().count()
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val executed = df.queryExecution.executedPlan
      val plan = executed.toString()
      def distinct(re: String) = re.r.findAllIn(plan).toSeq.distinct
        .mkString(" | ")
      val ex = exchanges(executed)
      val j = joins(executed)
      val audit = s"[audit] shuffles=${ex.shuffles}" +
        s" broadcasts=${ex.broadcasts} reusedExchanges=${ex.reused}" +
        s" broadcastHashJoins=${j.broadcastHash}" +
        s" sortMergeJoins=${j.sortMerge}" +
        " codegenSpans=" + codegenSpans(plan) +
        " expressions=" + expressionNodes(df.queryExecution.optimizedPlan) +
        " partitionFilters=" +
        partitionFilters(executed).distinct.mkString(" | ") +
        " pushed=" + distinct("PushedFilters: \\[[^\\]]*\\]") +
        " readSchema=" + distinct("ReadSchema: [^\\n]*") + "\n"
      Files.write(outDir.resolve(s"${n}_$suffix.txt"),
        (s"== $n ($suffix, sf=$sfDir) ==\n" + audit + formatted)
          .getBytes(StandardCharsets.UTF_8))
      println(s"[plandump] wrote ${n}_$suffix.txt  $audit")
    }
    spark.stop()
  }

  case class Exchanges(shuffles: Int, broadcasts: Int, reused: Int)

  /** Distinct shuffle and broadcast exchanges of a physical plan, by
    * plan id, counted through adaptive query stages and subqueries; a
    * reused exchange is counted apart from them. A line count of the
    * plan string would also count the initial plan's echo and every
    * line that merely names an exchange. */
  def exchanges(plan: SparkPlan): Exchanges = {
    val nodes = PlanWalk.collectWithSubqueries(plan) {
      case e @ (_: ShuffleExchangeLike | _: BroadcastExchangeLike |
          _: ReusedExchangeExec) => e
    }.distinctBy(_.id)
    Exchanges(
      nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      nodes.count(_.isInstanceOf[BroadcastExchangeLike]),
      nodes.count(_.isInstanceOf[ReusedExchangeExec]))
  }

  case class Joins(broadcastHash: Int, sortMerge: Int)

  /** Distinct broadcast-hash and sort-merge joins, by plan id, counted
    * like [[exchanges]]. */
  def joins(plan: SparkPlan): Joins = {
    val nodes = PlanWalk.collectWithSubqueries(plan) {
      case j @ (_: BroadcastHashJoinExec | _: SortMergeJoinExec) => j
    }.distinctBy(_.id)
    Joins(nodes.count(_.isInstanceOf[BroadcastHashJoinExec]),
      nodes.count(_.isInstanceOf[SortMergeJoinExec]))
  }

  /** Each distinct file scan's partition filters, `[]` for a scan that
    * prunes no partition — on a partitioned table read for one
    * partition, that `[]` is the sign the predicate never reached the
    * file listing. */
  def partitionFilters(plan: SparkPlan): Seq[String] =
    PlanWalk.collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
      .distinctBy(_.id)
      .map(_.partitionFilters.mkString("[", ", ", "]"))

  /** Expression nodes of a logical plan, subqueries included: every
    * node of every expression tree the plan's operators hold. Analysis,
    * optimization, code generation and task serialization each walk
    * them, so this is the plan's size as those phases see it. */
  def expressionNodes(plan: LogicalPlan): Int =
    plan.collectWithSubqueries { case p =>
      p.expressions.map(_.collect { case e => e }.size).sum
    }.sum

  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** Codegen spans in a plan string: the final adaptive plan marks
    * codegen'd operators with `*(id)` prefixes (the literal
    * WholeStageCodegen node name only appears in non-adaptive
    * treeStrings) — a span is one distinct id. */
  def codegenSpans(plan: String): Int = {
    val finalSection = plan.indexOf("== Final Plan ==") match {
      case -1 => plan
      case i =>
        // slice strictly before the Initial Plan echo — its *(id)
        // markers must not inflate the final-plan span count
        val j = plan.indexOf("== Initial Plan ==", i)
        plan.substring(i, if (j == -1) plan.length else j)
    }
    ("""\*\((\d+)\)""".r.findAllMatchIn(finalSection)
      .map(m => "s" + m.group(1)).toSet ++
      """WholeStageCodegen \((\d+)\)""".r.findAllMatchIn(finalSection)
        .map(m => "w" + m.group(1)).toSet).size
  }
}
