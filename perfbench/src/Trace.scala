package lakebench

import graft.operators.TableFormat
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Per-layer accounting for a traced run, measured from outside the
  * program: spans around each public call, a SparkListener that files
  * every job and task under the layer whose span submitted it (the
  * `lakebench.layer` local property), and a QueryExecutionListener
  * that reads scan metrics off each executed plan.
  *
  * When disabled every method is a pass-through, so the untraced run
  * pays nothing but a branch. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  // (layer, counter) -> value
  private val counters = mutable.Map.empty[(String, String), Long].withDefaultValue(0L)

  // job intervals (ms, event time) for idle-time accounting
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val stageLayer = mutable.Map.empty[Int, String]
  @volatile private var currentLayer = "harness"

  // listener callbacks run on Spark's bus thread: they lock the Tracer,
  // like every other reader and writer of its state
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val layer = Option(e.properties).flatMap(p =>
        Option(p.getProperty(LayerProp))).getOrElse("harness")
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(stageLayer(_) = layer)
      counters((layer, "jobs")) += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach(t0 => jobIntervals += ((t0, e.time)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val l = stageLayer.getOrElse(e.stageId, "harness")
        counters((l, "tasks")) += 1
        counters((l, "task_cpu_ns")) += m.executorCpuTime
        counters((l, "bytes_read")) += m.inputMetrics.bytesRead
        counters((l, "shuffle_bytes")) += m.shuffleWriteMetrics.bytesWritten
        counters((l, "spill_bytes")) += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper

  private val qel = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val scans = Plans.collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec => s
      }
      def m(s: FileSourceScanExec, k: String) =
        s.metrics.get(k).map(_.value).getOrElse(0L)
      Tracer.this.synchronized {
        counters((currentLayer, "queries")) += 1
        scans.foreach { s =>
          counters((currentLayer, "files_read")) += m(s, "numFiles")
          counters((currentLayer, "scan_bytes")) += m(s, "filesSize")
          counters((currentLayer, "rows_scanned")) += m(s, "numOutputRows")
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qel)
  }

  /** Set when the history loads: set-up is not traced. */
  @volatile var paused = false

  /** Runs `f` as a span of `layer`. Jobs `f` submits are filed under
    * `layer`; the listener bus is drained after the span so every event
    * of `f` is counted before the next span starts (the drain is not
    * part of the span). */
  def span[T](layer: String, name: String)(f: => T): T =
    if (!enabled || paused) f
    else {
      val parentLayer = currentLayer
      val idx = spans.length
      spans += Span(layer, name, open.headOption.getOrElse(-1), System.nanoTime(), 0L)
      open = idx :: open
      sc.setLocalProperty(LayerProp, layer)
      currentLayer = layer
      try f
      finally {
        spans(idx) = spans(idx).copy(t1 = System.nanoTime())
        open = open.tail
        org.apache.spark.lakebench.SparkInternals.drainBus(sc)
        sc.setLocalProperty(LayerProp, if (open.isEmpty) null else parentLayer)
        currentLayer = parentLayer
      }
    }

  /** Adds to a layer counter. */
  def add(layer: String, counter: String, v: Long): Unit =
    if (enabled && !paused) synchronized(counters((layer, counter)) += v)

  def snapshot(): Map[(String, String), Long] = synchronized(counters.toMap)

  def drain(): Unit = if (enabled) org.apache.spark.lakebench.SparkInternals.drainBus(sc)

  /** Self time per layer over the spans started at or after `fromIdx`:
    * each span's duration minus the part its children cover. */
  def selfTimes(fromIdx: Int): Map[String, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    for (i <- fromIdx until spans.length; s = spans(i) if s.parent >= fromIdx)
      childNs(s.parent) += s.t1 - s.t0
    (fromIdx until spans.length).groupBy(spans(_).layer).map { case (l, ix) =>
      l -> ix.map(i => spans(i).t1 - spans(i).t0 - childNs(i)).sum / 1e9
    }
  }

  /** Seconds of the spans of `layer` (from `fromIdx`) during which no
    * Spark job was running: planning, code generation, file listing,
    * renames and the harness's own work. Nested spans of the same
    * layer are counted once, through the outermost. */
  def idleSeconds(layer: String, fromIdx: Int): Double = {
    val jobs = synchronized(jobIntervals.toArray).sortBy(_._1)
    def covered(a: Long, b: Long): Long = {
      var total = 0L
      var cur = a
      for ((s, e) <- jobs if e > cur && s < b) {
        val from = math.max(s, cur)
        val to = math.min(e, b)
        if (to > from) { total += to - from; cur = to }
      }
      total
    }
    val ix = (fromIdx until spans.length).filter { i =>
      spans(i).layer == layer && !ancestors(i).exists(spans(_).layer == layer)
    }
    ix.map { i =>
      // span times are nanoTime; job times are epoch ms: convert once
      val s = spans(i)
      val a = epochMs(s.t0)
      val b = epochMs(s.t1)
      ((b - a) - covered(a, b)) / 1e3
    }.sum
  }

  private def ancestors(i: Int): List[Int] = {
    var out = List.empty[Int]
    var p = spans(i).parent
    while (p >= 0) { out = p :: out; p = spans(p).parent }
    out
  }

  private val nanoToEpoch = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def epochMs(nano: Long): Long = (nano + nanoToEpoch) / 1000000L
}

object Tracer {
  val LayerProp = "lakebench.layer"

  final case class Span(layer: String, name: String, parent: Int, t0: Long, t1: Long)

  /** Regular files under `dir`, as relative path -> size. */
  def listing(dir: java.io.File): Map[String, Long] = {
    val base = dir.toPath
    if (!dir.exists()) Map.empty
    else {
      val st = java.nio.file.Files.walk(base)
      try {
        val it = st.iterator()
        val b = Map.newBuilder[String, Long]
        while (it.hasNext) {
          val p = it.next()
          if (java.nio.file.Files.isRegularFile(p))
            b += base.relativize(p).toString -> java.nio.file.Files.size(p)
        }
        b.result()
      } finally st.close()
    }
  }

  /** Bytes and count of the files in `after` that `before` did not
    * hold (parquet part names carry a fresh id per write, so a
    * rewritten file is always a new name). */
  def written(before: Map[String, Long], after: Map[String, Long]): (Long, Long) = {
    val fresh = after.filter { case (k, v) => !before.get(k).contains(v) }
    (fresh.values.sum, fresh.size.toLong)
  }
}

/** TableFormat that times and counts every gold write, delegating to
  * the parquet format: the seam MedallionPipeline exposes for storage.
  * Counts land in the `merge` layer. */
final class TimingFormat(inner: TableFormat, tracer: Tracer) extends TableFormat {
  private def traced[T](op: String, path: String)(f: => T): T = {
    val dir = new java.io.File(path)
    val before = Tracer.listing(dir)
    val out = tracer.span("merge", s"$op ${dir.getName}")(f)
    val (bytes, files) = Tracer.written(before, Tracer.listing(dir))
    tracer.add("merge", "calls", 1)
    tracer.add("merge", "target_bytes", before.values.sum)
    tracer.add("merge", "bytes_written", bytes)
    tracer.add("merge", "files_written", files)
    out
  }

  def exists(spark: SparkSession, path: String): Boolean = inner.exists(spark, path)
  def read(spark: SparkSession, path: String): Option[DataFrame] = inner.read(spark, path)
  def upsert(spark: SparkSession, source: DataFrame, path: String,
      keys: Seq[String], versionCol: String, preserveOnUpdate: Seq[String],
      partitionCols: Seq[String]): Unit =
    traced("upsert", path)(inner.upsert(spark, source, path, keys, versionCol,
      preserveOnUpdate, partitionCols))
  def insertIgnore(spark: SparkSession, source: DataFrame, path: String,
      keys: Seq[String]): Unit =
    traced("insertIgnore", path)(inner.insertIgnore(spark, source, path, keys))
  def fullRefresh(spark: SparkSession, source: DataFrame, path: String): Unit =
    traced("fullRefresh", path)(inner.fullRefresh(spark, source, path))
  def replacePartitions(spark: SparkSession, source: DataFrame, path: String,
      partitionCol: String): Unit =
    traced("replacePartitions", path)(inner.replacePartitions(spark, source, path,
      partitionCol))
}
