package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

/** Shared test harness: one local session per suite, temp workspace. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.get(4)

  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d.toString
  }

  def ts(s: String): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.parse(s))

  /** `f` with the session confs `kv` set; each key's value (or its
    * absence) is restored afterwards. */
  def withConf[A](kv: (String, String)*)(f: => A): A = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `f` under a one-partition bound nothing fits under
    * (`graft.operators.OnePartition`): every operator plans what it
    * plans for a large input. */
  def aboveBound[A](f: => A): A =
    withConf("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1b")(f)

  /** Walks final adaptive plans, query stages included. */
  object PlanWalk extends AdaptiveSparkPlanHelper
}
