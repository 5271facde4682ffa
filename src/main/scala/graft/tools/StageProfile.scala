package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.collection.mutable.ArrayBuffer

/** Per-stage wall/task/CPU profile of ONE declared query — the
  * empirical half of guide §1.1 without the UI: run the named query
  * (one unmeasured warmup + one profiled run, Bench's cache-release
  * discipline), then print every completed stage with its call site,
  * task count, summed task time, CPU time and shuffle bytes, sorted by
  * wall time, and a wall/task/CPU subtotal per call site.
  *   sbt "runMain graft.tools.StageProfile <query> [sfDir]"
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: StageProfile <query> [sfDir]")
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.get(cpus)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val fn = graft.SparkEntry.queries(name)
    // warmup (codegen/JIT), unprofiled
    graft.CacheRegistry.release(); spark.catalog.clearCache()
    fn(spark, sfDir).count()

    case class St(id: Int, name: String, tasks: Int, wallMs: Long,
      taskMs: Long, cpuMs: Long, shRead: Long, shWrite: Long,
      rdds: String)
    val stages = ArrayBuffer[St]()
    // A stage's own name is the call site of the thread that submitted
    // it; AQE submits query stages from a pool thread, so that reads
    // "... at CompletableFuture.java". The SQL execution a stage's job
    // belongs to keeps the call site of the action that started it
    // (e.g. "count at NearDup.scala:1674"), so resolve stage -> job ->
    // execution -> call site. Events arrive in order on one thread.
    val execSite = scala.collection.mutable.Map[String, String]()
    val stageSite = scala.collection.mutable.Map[Int, String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          execSite(x.executionId.toString) = x.description
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        for {
          props <- Option(e.properties)
          id <- Option(props.getProperty("spark.sql.execution.id"))
          site <- execSite.get(id)
        } e.stageIds.foreach(stageSite.getOrElseUpdate(_, site))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        // RDD scope names identify WHAT the stage computes (the stage
        // name only carries the action callsite) — cached frames show
        // up as InMemoryTableScan, scans as FileScan etc.
        val rdds = i.rddInfos.map(_.name).filter(_ != null).distinct
          .mkString("|").take(120)
        stages += St(i.stageId,
          stageSite.getOrElse(i.stageId, i.name).takeWhile(_ != '\n'),
          i.numTasks,
          (for {s <- i.submissionTime; c <- i.completionTime} yield c - s)
            .getOrElse(-1L),
          m.executorRunTime, m.executorCpuTime / 1000000L,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, rdds)
      }
    })
    graft.CacheRegistry.release(); spark.catalog.clearCache()
    val t0 = System.nanoTime()
    fn(spark, sfDir).count()
    val wall = (System.nanoTime() - t0) / 1e9
    // drain listener bus
    Thread.sleep(1000)
    println(f"[stageprofile] $name total ${wall}%.2fs, ${stages.size} stages")
    // each stage line names its call site before the RDD scopes
    stages.sortBy(-_.wallMs).take(40).foreach { s =>
      println(f"[stageprofile] id=${s.id}%-4d wall=${s.wallMs}%6dms tasks=${s.tasks}%-4d task=${s.taskMs}%6dms cpu=${s.cpuMs}%6dms shR=${s.shRead / 1024}%8dK shW=${s.shWrite / 1024}%8dK  [${s.name}]  ${s.rdds}")
    }
    // subtotal per call site: the operator's own persist/count barriers
    // and actions split its time by source line, on the real operator
    stages.groupBy(_.name).toSeq.sortBy(-_._2.map(_.wallMs).sum)
      .foreach { case (site, ss) =>
        println(f"[stageprofile] site wall=${ss.map(_.wallMs).sum}%6dms task=${ss.map(_.taskMs).sum}%6dms cpu=${ss.map(_.cpuMs).sum}%6dms stages=${ss.size}%-3d $site")
      }
    println(f"[stageprofile] sum wall=${stages.map(_.wallMs).sum}ms over ${stages.size} stages; sum task=${stages.map(_.taskMs).sum}ms cpu=${stages.map(_.cpuMs).sum}ms")
    spark.stop()
  }
}
