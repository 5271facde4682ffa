package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerTaskEnd}
import java.util.concurrent.atomic.AtomicLong

/** Headline-query benchmark. One JSON line on stdout:
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}.
  *
  * Methodology: each query runs `SPARK_GRAFT_REPS` times (default 3)
  * and reports the MEDIAN — single-shot timings on a shared box vary
  * ±10%+, which made one r2 "regression" unfalsifiable. Queries whose
  * first-3 median exceeds [[Bench.AdaptiveThresholdSec]] get extra
  * reps (5 total by default) so ONE contended rep cannot set the
  * median — the r5 record doubled its headline number exactly that
  * way. The session is warmed (codegen, shuffle infra, parquet
  * reader) before anything is measured; `queries_min` carries the
  * per-query best for noise-floor reading. `SPARK_GRAFT_ONLY`
  * (comma-separated names) restricts the run while iterating. A
  * query that throws is named under `"failed"` with its first error
  * and is left out of `total`, `queries` and `queries_min`.
  *
  * Variance instrumentation (r5 verdict #1): the full BENCH_LOCAL.json
  * record carries, per query, the per-rep wall times plus per-rep
  * deltas of executor GC time, shuffle/agg spill bytes, and
  * cached-RDD-block drop events (a drop DURING a rep means Spark
  * evicted a persisted frame mid-query — the "silent recompute"
  * signature; a slow rep with flat counters is box contention).
  * Counters come from a SparkListener over task metrics, reset at
  * each rep boundary after the cache release.
  */
object Bench {

  /** Queries at or above this first-pass median get [[ExtraReps]]
    * more reps before the final median is taken. */
  private val AdaptiveThresholdSec = 2.0
  private val ExtraReps = 2

  /** Accumulates executor-side counters between [[reset]] calls.
    * Listener events arrive asynchronously; [[drain]] waits for the
    * listener bus to flush so a rep's counters don't leak into the
    * next rep's window. */
  private final class MetricsListener extends SparkListener {
    val gcMs = new AtomicLong
    val spillBytes = new AtomicLong
    val cacheDrops = new AtomicLong
    // executor-side task run / CPU time: when a rep's wall time spikes
    // but its task_ms does NOT, the executors never saw the work —
    // scheduling / box contention, not the query (r6 verdict: t20's
    // 19.8 s rep with flat gc/spill was unattributable without this)
    val taskMs = new AtomicLong
    val cpuMs = new AtomicLong
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        gcMs.addAndGet(m.jvmGCTime)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        taskMs.addAndGet(m.executorRunTime)
        // accumulate NANOSECONDS; truncating per task would shed up
        // to ~1 ms × task-count from exactly the counter that
        // diagnoses task_ms-vs-cpu_ms contention
        cpuMs.addAndGet(m.executorCpuTime)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val i = e.blockUpdatedInfo
      // a cached RDD block leaving memory entirely (level drops to
      // no-memory with nothing resident) — eviction or unpersist;
      // within a measured rep only eviction produces these
      if (i.blockId.isRDD && !i.storageLevel.useMemory
          && i.memSize == 0 && i.diskSize == 0)
        cacheDrops.incrementAndGet()
    }
    def reset(): Unit = {
      gcMs.set(0); spillBytes.set(0); cacheDrops.set(0)
      taskMs.set(0); cpuMs.set(0)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = GraftSession.get(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val metrics = new MetricsListener
    spark.sparkContext.addSparkListener(metrics)
    // listenerBus is private[spark] at the Scala level but public in
    // bytecode — reflection is the sanctioned-enough way to get the
    // flush without a shim class inside org.apache.spark. If the
    // reflective surface changes on a Spark upgrade, counters degrade
    // to racy — say so ONCE instead of swallowing forever.
    var busWarned = false
    def drainBus(): Unit = try { // flush pending listener events
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", java.lang.Long.TYPE)
        .invoke(bus, java.lang.Long.valueOf(10000L))
    } catch {
      case e @ (_: NoSuchMethodException | _: IllegalAccessException
          | _: java.lang.reflect.InvocationTargetException) =>
        if (!busWarned) {
          busWarned = true
          System.err.println(
            s"[bench] listener-bus drain unavailable (${e.getClass.getSimpleName}: " +
              s"${e.getMessage}) — per-rep counters may lag rep boundaries")
        }
    }
    // Warm the session (codegen, shuffle infra, parquet reader +
    // filesystem metadata) so the first measured query doesn't absorb
    // one-time startup cost.
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Tables(spark, sfDir, "region").count()
    // Machine-speed canary: a fixed CPU+shuffle job, data-independent,
    // reported alongside the queries. Round-over-round comparisons on a
    // shared box are only meaningful canary-normalized — the r4
    // "heavy-family drift" turned out to be the box itself: round-3's
    // own end commit, re-benched in round 5, ran t24 1.6x slower than
    // round 3 recorded it.
    val canary = {
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        spark.range(200000000L)
          .selectExpr("id % 1000 AS k", "id AS v")
          .groupBy("k").sum("v").count()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      runs(runs.length / 2)
    }
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    case class Rep(sec: Double, gcMs: Long, spillBytes: Long, drops: Long,
      taskMs: Long, cpuMs: Long)
    def runRep(fn: (SparkSession, String) => DataFrame): Rep = {
      // the composed dedup operators persist small result frames that
      // Spark's CacheManager would share across reps (and across
      // queries with matching sub-plans) — a warm rep must re-run the
      // pipeline, not read the previous rep's cache. release() is the
      // operators' own drain hook; clearCache sweeps anything else.
      CacheRegistry.release()
      spark.catalog.clearCache()
      drainBus()
      metrics.reset()
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      drainBus()
      Rep(sec, metrics.gcMs.get, metrics.spillBytes.get,
        metrics.cacheDrops.get, metrics.taskMs.get,
        metrics.cpuMs.get / 1000000L) // ns accumulator -> ms once
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      s(s.length / 2)
    }
    // a query with ANY failing rep is named under "failed" with its
    // first error and left out of every timing: a -1 or a partial
    // median would read as a number the board can be judged on
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    val results = selected.flatMap { case (name, fn) =>
      try {
        // One UNRECORDED warmup rep per query: a query's first execution
        // JIT-compiles its generated code and initializes any lazily-
        // loaded JDK machinery (t63's first javax.imageio decode);
        // folding that one-time cost into a measured rep is what made
        // t63's median 3× its min with every variance counter flat.
        runRep(fn)
        var runs = (1 to reps).map(_ => runRep(fn))
        // adaptive: the slow family gets extra reps so a single
        // contended rep can't set the median (only when the base pass
        // used the default 3 — an explicit SPARK_GRAFT_REPS wins)
        if (reps == 3 && median(runs.map(_.sec)) >= AdaptiveThresholdSec)
          runs ++= (1 to ExtraReps).map(_ => runRep(fn))
        Some(name -> runs)
      } catch { case e: Throwable =>
        val msg = String.valueOf(e.getMessage).linesIterator
          .nextOption().getOrElse("").take(200)
        failed(name) = s"${e.getClass.getSimpleName}: $msg"
        System.err.println(s"[bench] $name failed: ${failed(name)}")
        None
      }
    }
    def fmt(v: Double) = f"$v%.3f"
    // main-line variant: same ms precision, trailing zeros stripped
    // ("0.150"->"0.15", "2.000"->"2") — the driver captures only the
    // TAIL of stdout and a main line longer than its window truncates
    // mid-JSON (r11's did, at 193 queries); every byte shaved off the
    // per-query map is margin for the line that round-over-round
    // comparison depends on. The FILE record keeps fixed width.
    def fmtShort(v: Double) = {
      val s = f"$v%.3f"
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').reverse
        .stripSuffix(".")
      else s
    }
    def obj(kv: Seq[(String, String)]): String =
      kv.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
    val med = results.map { case (n, rs) => n -> median(rs.map(_.sec)) }
    val qs = obj(med.map { case (n, v) => n -> fmt(v) })
    val qsShort = obj(med.map { case (n, v) => n -> fmtShort(v) })
    val qmin = obj(results.map { case (n, rs) => n -> fmt(rs.map(_.sec).min) })
    val failedObj = obj(failed.toSeq.map { case (n, e) =>
      n -> Verify.jsonString(e) })
    // per-query per-rep detail: wall secs + the three variance
    // counters, in rep order — the record that distinguishes "slow
    // box" (flat counters) from "evicted cache recomputed" (drops>0,
    // gc/spill spike on the slow rep)
    val detail = obj(results.map { case (n, rs) =>
      n -> obj(Seq(
        "sec" -> rs.map(r => fmt(r.sec)).mkString("[", ",", "]"),
        "gc_ms" -> rs.map(_.gcMs).mkString("[", ",", "]"),
        "spill_mb" -> rs.map(r => fmt(r.spillBytes / 1e6))
          .mkString("[", ",", "]"),
        "cache_drops" -> rs.map(_.drops).mkString("[", ",", "]"),
        "task_ms" -> rs.map(_.taskMs).mkString("[", ",", "]"),
        "cpu_ms" -> rs.map(_.cpuMs).mkString("[", ",", "]")))
    })
    val total = med.map(_._2).sum
    // r13: the queries_min preview line is NOT printed to stdout any
    // more — at 198 queries it alone nearly filled the driver's tail
    // window, competing with the main line below for the same bytes.
    // It lives in the BENCH_LOCAL.json file record (read whole) only.
    // ms precision is below run-to-run noise; the trailing-zero strip
    // also keeps the MAIN line compact — the driver captures only the
    // TAIL of this process's output, and a line longer than its window
    // gets truncated mid-JSON and recorded as unparseable (BENCH_r03,
    // BENCH_r11). queries_min and the rep detail go to the FILE record.
    val mainLine =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","reps":$reps,"canary":${fmt(canary)},"queries":$qsShort,""" +
        (if (failed.isEmpty) "" else s""""failed":$failedObj,""") +
        s""""sf":"$sfDir"}"""
    println(mainLine)
    // The driver captures only the TAIL of stdout, so the queries_min
    // line was lost in r3/r4 ("parsed": null). Persist the full record
    // — medians, mins AND per-rep detail in one object — to a file
    // read whole.
    val full =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","reps":$reps,"canary":${fmt(canary)},"queries":$qs,"queries_min":$qmin,"rep_detail":$detail,"failed":$failedObj,"sf":"$sfDir"}"""
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(sys.env.getOrElse(
          "SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")),
        (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: java.io.IOException =>
      // the main line above is already out; a lost file record is
      // reported, not fatal
      System.err.println(s"[bench] could not write the bench record: $e")
    }
    spark.stop()
  }
}
