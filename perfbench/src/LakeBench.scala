package lakebench

import graft.{CacheRegistry, GraftSession}
import graft.operators.{Curate, ParquetTableFormat, TarShards}
import graft.pipeline.MedallionPipeline
import graft.views.{Analytics, SqlGateway}
import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** End-to-end benchmark of the lake, one workload per JVM:
  *
  *   lakebench.LakeBench <workload> <seed> <seconds> <trace 0|1> <workdir>
  *
  * Set-up (session, inputs, history, one untimed warm-up round) is timed
  * from JVM start as `setup_s`; then a fixed number of whole rounds per
  * workload is timed, so every run does the same operations whatever
  * `seconds` is, and `round_p50_s` is their median. Every operation is
  * counted as attempted or failed; a run with a failed operation enters
  * no timing, and then reports no `round_p50_s`. The
  * result and the artifacts the independent check reads are written
  * under `workdir`. */
object LakeBench {

  val Workloads = Seq("daily_increment", "corpus_shards")
  // held fixed so a later change to the program cannot change the inputs;
  // the reference's 180:21:4:1 mix at 25 prospects: a run's set-up, its
  // cold load included, has to leave time for several corpus passes
  val LakeScale = Scale(members = 100, sales = 525, entries = 4500, prospects = 25)
  val CorpusDocs = 1000
  // a pass is 3.5-6 s; the median of several passes per run keeps one slow
  // pass (the first after the warm-up, a stretch of the host's steal)
  // out of the figure
  val CorpusRounds = 3
  val ShardBudget = 8000L
  val TarShardCount = 4
  val LookupsPerPass = 10

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workDir) = args
    require(Workloads.contains(workload), s"unknown workload $workload")
    val bench = new LakeBench(workload, seedS.toLong, secondsS.toDouble,
      traceS == "1", new File(workDir))
    val code = try bench.run() finally bench.close()
    sys.exit(code)
  }
}

/** The timed rounds of a run: `times` rounds, each `prepare` (untimed),
  * `body` (timed), `finish` (untimed). */
final case class Round(prepare: () => Unit, body: () => Boolean, finish: () => Unit,
    times: Int)

final class Ops {
  var attempted = 0L
  var failed = 0L
  val errors = ArrayBuffer.empty[String]

  /** Runs one operation; a failure is recorded with its class and
    * message and returns false. */
  def apply(kind: String)(f: => Unit): Boolean = {
    synchronized(attempted += 1)
    try { f; true }
    catch {
      case NonFatal(e) => synchronized {
        failed += 1
        val msg = Option(e.getMessage).getOrElse("").linesIterator
          .take(1).mkString.take(300)
        if (errors.size < 20) errors += s"$kind: ${e.getClass.getName}: $msg"
        false
      }
    }
  }
}

final class LakeBench(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: File) {
  import LakeBench._

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val cores = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()) - 1)
  private val lakeRoot = new File(work, "lake")
  private val bronze = new File(lakeRoot, "bronze")

  val spark: SparkSession = GraftSession.builder(cores)
    .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")

  private val tracer = new Tracer(spark, trace)
  private val ops = new Ops
  private val heap = new HeapWatch
  private var roundTime: Option[Double] = None
  private val lookupMs = ArrayBuffer.empty[Double]
  private val extra = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private var unitsPerRound = 0L
  private var timedFromSpan = 0
  // set-up milestones, seconds from JVM start, for the output header
  private val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private def mark(phase: String): Unit =
    phases(phase) = (System.currentTimeMillis() - jvmStartMs) / 1e3

  def close(): Unit = spark.stop()

  def run(): Int = {
    println(s"# lakebench workload=$workload seed=$seed seconds=$seconds trace=${if (trace) 1 else 0}")
    println(s"# cores=$cores heap_max_mb=${Runtime.getRuntime.maxMemory >> 20} " +
      s"spark=${spark.version} java=${System.getProperty("java.version")} " +
      s"gc=${ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).mkString("+")}")
    mark("session")
    val round: Round = workload match {
      case "daily_increment" => setupIncrement()
      case "corpus_shards" => setupCorpus()
    }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    println("# setup_phases_s " + phases.map { case (k, v) => f"$k=$v%.2f" }.mkString(" "))
    val base = tracer.snapshot()
    timedFromSpan = tracer.spans.length
    val roundS = ArrayBuffer.empty[Double]
    var ok = true
    var gcRoundMs = 0L
    var compileMs = 0.0
    heap.armed = true
    for (_ <- 0 until round.times) {
      // every round starts from the live set that full collections leave
      heap.collect()
      round.prepare()
      val g0 = gcMs()
      val c0 = codegen()
      val r0 = System.nanoTime()
      ok &= tracer.span("round", "round")(round.body())
      roundS += (System.nanoTime() - r0) / 1e9
      gcRoundMs += gcMs() - g0
      compileMs += codegen() - c0
      round.finish()
    }
    // a failed operation never enters a timing
    if (ok) roundTime = Some(median(roundS.toSeq))
    tracer.drain()
    // disarmed only now: notifications of the last round's collections
    // arrive on a JMX thread after the collection ends
    heap.armed = false
    val layerMetrics =
      if (trace) perLayer(base, gcRoundMs, compileMs, round.times) else Map.empty[String, Double]
    after()
    val metrics = if (trace) layerMetrics else endToEnd(setupS)
    writeResult(metrics, roundS.toSeq)
    0
  }

  // ------------------------------------------------------------- lake

  private def newPipe(): MedallionPipeline = new MedallionPipeline(spark,
    lakeRoot.getAbsolutePath,
    if (trace) new TimingFormat(ParquetTableFormat, tracer) else ParquetTableFormat)

  private var pipe: MedallionPipeline = _
  private var gen: LakeGen = _
  private val runs = ArrayBuffer.empty[(String, java.sql.Timestamp, RunStats)]
  private var historyStats: RunStats = _
  private var deltaNo = 0

  private def generateHistory(): Unit = {
    gen = new LakeGen(bronze.getAbsolutePath, seed, LakeScale)
    historyStats = gen.history("r0000", "2026-01-01")
    runs += (("r0000", ts(0), historyStats))
    pipe = newPipe()
  }

  /** Loaded-at of run `k`: one day apart, fixed, so a replay of a run
    * is byte-identical. */
  private def ts(k: Int): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(java.time.LocalDateTime.of(2026, 1, 1, 6, 0).plusDays(k))

  /** The delivered entities of `run` through silver, then the gold
    * transform; `incremental` transforms only that run's rows. */
  private def lakePass(run: (String, java.sql.Timestamp, RunStats),
      incremental: Boolean): Boolean = {
    val (runId, loadedAt, stats) = run
    var ok = true
    for (e <- gen.entities.map(_.entity) if stats.entities(e)) {
      ok &= tracer.span("silver", e)(ops("load") {
        e match {
          case "members" => pipe.loadEvoSilver("members", "idMember", runId, loadedAt)
          case "sales" => pipe.loadEvoSilver("sales", "idSale", runId, loadedAt)
          case "prospects" => pipe.loadEvoSilver("prospects", "idProspect", runId, loadedAt)
          case "entries" => pipe.loadEvoEntriesSilver(runId, loadedAt)
        }
      })
    }
    ok & tracer.span("gold", "evo")(ops("transform")(
      pipe.transformEvo(onlyRun = if (incremental) Some(runId) else None)))
  }

  private def register(): Boolean =
    tracer.span("views", "register")(ops("register")(SqlGateway.register(spark, pipe)))

  private def nextDelta(): (String, java.sql.Timestamp, RunStats) = {
    deltaNo += 1
    val runId = f"r$deltaNo%04d"
    val day = java.time.LocalDate.of(2026, 1, 1).plusDays(deltaNo).toString
    val st = gen.delta(deltaNo, runId, day)
    val r = (runId, ts(deltaNo), st)
    runs += r
    r
  }

  private def history(): Unit = {
    generateHistory()
    mark("inputs")
    tracer.paused = true
    val t0 = System.nanoTime()
    require(lakePass(runs.head, incremental = false), "history load failed")
    // the history is the cold first load of every entity: the
    // workload's backfill, timed inside set-up
    extra("backfill.s") = (System.nanoTime() - t0) / 1e9
    extra("backfill.rps") = historyStats.records / extra("backfill.s")
    mark("history")
    tracer.paused = false
  }

  /** A day of the lake: the day's delta through silver and gold, views
    * re-registered, then one dashboard pass and a stream of lookups. */
  private def day(r: (String, java.sql.Timestamp, RunStats), record: Boolean): Boolean = {
    var ok = lakePass(r, incremental = true)
    ok &= register()
    ok &= dashboardPass()
    for (_ <- 0 until LookupsPerPass) ok &= lookup(record)
    ok
  }

  private def setupIncrement(): Round = {
    history()
    lookupRnd = new java.util.SplittableRandom(seed * 131L + 7L)
    // warm-up: an untimed day compiles the merge path and the
    // dashboard queries
    val first = nextDelta()
    require(day(first, record = false), "warm-up day failed")
    mark("warmup")
    var r = first
    Round(
      prepare = () => { r = nextDelta(); unitsPerRound = r._3.records; lakeDiffStart() },
      body = () => day(r, record = true),
      finish = () => lakeDiffEnd(r._3.bytes),
      // one day per run: the check compares the recorded lookups and
      // dashboards with the gold the run ends with
      times = 1)
  }

  private def dashboards: Seq[(String, () => Array[Row])] = {
    def t(name: String) = spark.table(name)
    Seq(
      "vw_daily_entries" -> (() => t("vw_daily_entries").collect()),
      "membership_retention" -> (() => Analytics.membershipRetention(
        t("evo_member_memberships"), t("evo_members")).collect()))
  }

  private val lastView = scala.collection.mutable.Map.empty[String, Array[Row]]
  private val lookupLog = ArrayBuffer.empty[String]
  private var lookupRnd: java.util.SplittableRandom = _

  private def dashboardPass(): Boolean = {
    dashboards.map { case (name, q) =>
      tracer.span("views", name)(ops("query") {
        val rows = q()
        lastView(name) = rows
        tracer.add("views", "rows_returned", rows.length)
      })
    }.forall(identity)
  }

  /** One selective lookup: a member by id, or one member's entries in
    * a 90-day window. */
  private def lookup(record: Boolean): Boolean = {
    val r = lookupRnd
    val member = 1 + r.nextInt(LakeScale.members)
    val byId = r.nextBoolean()
    val from = java.time.LocalDate.of(2023, 1, 1).plusDays(r.nextInt(1000))
    val to = from.plusDays(90)
    val sql =
      if (byId) s"SELECT member_id, first_name, total_fit_coins FROM evo_members WHERE member_id = $member"
      else s"SELECT count(*) AS n, max(entry_date) AS last FROM evo_entries " +
        s"WHERE member_id = $member AND entry_date >= '$from' AND entry_date < '$to'"
    val t0 = System.nanoTime()
    var rows: Array[Row] = null
    val ok = tracer.span("views", "lookup")(ops("lookup") {
      rows = spark.sql(sql).collect()
      tracer.add("views", "rows_returned", rows.length)
    })
    if (ok && record) {
      lookupMs += (System.nanoTime() - t0) / 1e6
      lookupLog += s"""{"sql": "$sql", "rows": ${rows.map(_.json).mkString("[", ",", "]")}}"""
    }
    ok
  }

  // ------------------------------------------------------------ corpus

  private var corpus: CorpusGen = _
  private var corpusTextBytes = 0L
  private val corpusPath = new File(work, "corpus").getAbsolutePath
  private val shardDir = new File(work, "shards").getAbsolutePath

  private def corpusRound(): Boolean = {
    val docs = spark.read.parquet(corpusPath)
    var packed: org.apache.spark.sql.DataFrame = null
    var ok = tracer.span("curate", "curateToShards")(ops("curate") {
      packed = Curate.curateToShards(docs, "id", "text", ShardBudget)
    })
    if (ok) ok &= tracer.span("shards", "TarShards.write")(ops("shards") {
      val written = TarShards.write(packed.select(col("id"),
        format_string("p%05d-%08d.txt", col("shard"), col("id")).as("name"),
        encode(col("text"), "UTF-8").as("data")), "id", shardDir, TarShardCount)
      val bytes = written.agg(sum("n_bytes")).collect()(0).getLong(0)
      tracer.add("shards", "bytes_written", bytes)
      outBytes += bytes
      inBytes += corpusTextBytes
    })
    CacheRegistry.release()
    ok
  }

  private def setupCorpus(): Round = {
    corpus = new CorpusGen(seed, CorpusDocs, ShardBudget)
    import spark.implicits._
    corpus.docs.map(d => (d.id, d.text)).toSeq.toDF("id", "text")
      .repartition(cores).write.mode("overwrite").parquet(corpusPath)
    unitsPerRound = CorpusDocs
    corpusTextBytes = corpus.docs.map(_.text.getBytes("UTF-8").length.toLong).sum
    mark("inputs")
    require(corpusRound(), "warm-up curate failed")
    mark("warmup")
    outBytes = 0L
    inBytes = 0L
    Round(prepare = () => (), body = () => corpusRound(), finish = () =>
      spaceAmp = Tracer.listing(new File(shardDir)).values.sum.toDouble / corpusTextBytes,
      times = CorpusRounds)
  }

  // ----------------------------------------------------------- metrics

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def endToEnd(setupS: Double): Map[String, Double] = Map(
    "setup_s" -> setupS,
    "round_p50_s" -> roundTime.getOrElse(Double.NaN),
    "write_amp" -> outBytes.toDouble / inBytes,
    "space_amp" -> spaceAmp,
    "peak_heap_mb" -> heap.peakMb)

  // write accounting over the timed round: bytes the round wrote (new
  // files under silver and gold; tar shards) per input byte (bronze
  // delta; document text). Space: bytes stored per input byte after it.
  private var outBytes = 0L
  private var inBytes = 0L
  private var spaceAmp = 0.0
  private var silverBefore: Map[String, Long] = Map.empty
  private var goldBefore: Map[String, Long] = Map.empty
  private var silverWritten = 0L
  private def silverListing() = Tracer.listing(new File(lakeRoot, "silver"))
  private def goldListing() = Tracer.listing(new File(lakeRoot, "gold"))
  private def lakeDiffStart(): Unit = {
    silverBefore = silverListing()
    goldBefore = goldListing()
  }
  private def lakeDiffEnd(bronzeBytes: Long): Unit = {
    val (silverAfter, goldAfter) = (silverListing(), goldListing())
    silverWritten = Tracer.written(silverBefore, silverAfter)._1
    outBytes = silverWritten + Tracer.written(goldBefore, goldAfter)._1
    inBytes = bronzeBytes
    spaceAmp = (silverAfter.values.sum + goldAfter.values.sum).toDouble / runs.map(_._3.bytes).sum
  }

  /** Per-layer metrics of the timed rounds, per round. Every layer is
    * reported on every workload; a layer the workload does not use
    * reads 0. */
  private def perLayer(base: Map[(String, String), Long], gcMsDelta: Long,
      compileMs: Double, rounds: Int): Map[String, Double] = {
    val now = tracer.snapshot()
    // counter growth over the timed rounds
    def c(layers: String*)(counter: String): Double =
      layers.map(l => now.getOrElse((l, counter), 0L) - base.getOrElse((l, counter), 0L)).sum
    val from = timedFromSpan
    val timedSpans = tracer.spans.drop(from)
    def spanS(layer: String, name: String) =
      timedSpans.filter(s => s.layer == layer && s.name == name).map(s => (s.t1 - s.t0) / 1e9).sum
    def layerS(layer: String) = timedSpans.filter(s => s.layer == layer &&
      !(s.parent >= from && tracer.spans(s.parent).layer == layer))
      .map(s => (s.t1 - s.t0) / 1e9).sum
    val self = tracer.selfTimes(from).withDefaultValue(0.0)
    val all = Seq("harness", "round", "silver", "gold", "merge", "views", "curate", "shards")
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    m("silver.s") = layerS("silver")
    m("silver.self_s") = self("silver")
    m("silver.jobs") = c("silver")("jobs")
    m("silver.idle_s") = tracer.idleSeconds("silver", from)
    m("silver.task_cpu_s") = c("silver")("task_cpu_ns") / 1e9
    m("silver.bytes_read") = c("silver")("bytes_read")
    m("silver.bytes_written") = silverWritten
    // gold spans enclose the merge spans of the tables they write
    m("gold.evo_s") = spanS("gold", "evo")
    m("gold.self_s") = self("gold")
    m("gold.jobs") = c("gold", "merge")("jobs")
    m("gold.idle_s") = tracer.idleSeconds("gold", from)
    m("gold.task_cpu_s") = c("gold", "merge")("task_cpu_ns") / 1e9
    m("gold.shuffle_bytes") = c("gold", "merge")("shuffle_bytes")
    m("gold.spill_bytes") = c("gold", "merge")("spill_bytes")
    m("merge.calls") = c("merge")("calls")
    m("merge.self_s") = self("merge")
    m("merge.target_bytes_read") = c("merge")("target_bytes")
    m("merge.bytes_written") = c("merge")("bytes_written")
    m("merge.files_written") = c("merge")("files_written")
    m("views.register_ms") = spanS("views", "register") * 1e3
    for ((name, _) <- dashboards) m(s"views.${name}_ms") = spanS("views", name) * 1e3
    m("views.self_s") = self("views")
    // no lookups: corpus_shards, or every lookup failed (then the run
    // reports correct=false)
    m("views.lookup_p50_ms") = if (lookupMs.isEmpty) 0.0 else median(lookupMs.toSeq)
    m("views.files_read") = c("views")("files_read")
    m("views.scan_bytes") = c("views")("scan_bytes")
    val returned = c("views")("rows_returned")
    m("views.rows_scanned_per_row_returned") =
      if (returned > 0) c("views")("rows_scanned") / returned else 0.0
    m("curate.s") = layerS("curate")
    m("curate.self_s") = self("curate")
    m("curate.task_cpu_s") = c("curate")("task_cpu_ns") / 1e9
    m("curate.shuffle_bytes") = c("curate")("shuffle_bytes")
    m("shards.write_s") = layerS("shards")
    m("shards.self_s") = self("shards")
    m("shards.bytes_written") = c("shards")("bytes_written")
    m("spark.jobs") = c(all: _*)("jobs")
    m("spark.tasks") = c(all: _*)("tasks")
    m("spark.task_cpu_s") = c(all: _*)("task_cpu_ns") / 1e9
    m("spark.gc_s") = gcMsDelta / 1e3
    m("spark.shuffle_write_bytes") = c(all: _*)("shuffle_bytes")
    m("spark.spill_bytes") = c(all: _*)("spill_bytes")
    m("spark.idle_s") = tracer.idleSeconds("round", from)
    m("spark.codegen_compile_s") = compileMs / 1e3
    m("harness.self_s") = self("round")
    m("trace.round_s") = layerS("round")
    // per round: the mean over the timed rounds, except the two figures
    // that are already per lookup or per row
    for (k <- m.keys.toSeq if k != "views.lookup_p50_ms" && k != "views.rows_scanned_per_row_returned")
      m(k) /= rounds
    // set-up and end-of-run figures; 0 where the workload has none
    for (k <- Seq("backfill.s", "backfill.rps") ++
        Seq("n_input", "n_quality", "n_lang", "n_exact", "n_final").map("curate." + _))
      m(k) = 0.0
    m.toMap
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Total code-generation compile time so far, ms (Spark's codegen
    * histogram: count times mean, so approximate). */
  private def codegen(): Double = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    h.getCount * h.getSnapshot.getMean
  }

  // ----------------------------------------------------- after the run

  /** Untimed: artifacts for the independent check. */
  private def after(): Unit = workload match {
    case "daily_increment" =>
      if (trace) {
        // replaying the timed day's delta (same run id and loaded-at)
        // must change no gold row; the check compares the two copies.
        // It runs after the round: a replay before it is a second warm
        // pass, and traced days then read 20-35% faster than untraced
        copyTree(new File(lakeRoot, "gold"), new File(work, "gold_before_replay"))
        require(lakePass(runs.last, incremental = true), "replay failed")
        copyTree(new File(lakeRoot, "gold"), new File(work, "gold_after_replay"))
      }
      writeRuns()
      val dir = new File(work, "views"); dir.mkdirs()
      for ((name, rows) <- lastView) writeLines(new File(dir, s"$name.jsonl"), rows.map(_.json).toSeq)
      writeLines(new File(work, "lookups.jsonl"), lookupLog.toSeq)
    case "corpus_shards" =>
      writeLines(new File(work, "truth.json"), Seq(corpus.truthJson))
      if (trace) {
        val docs = spark.read.parquet(corpusPath)
        val f = Curate.curateStats(docs, "id", "text").collect()(0)
        CacheRegistry.release()
        for (c <- Seq("n_input", "n_quality", "n_lang", "n_exact", "n_final"))
          extra(s"curate.$c") = f.getAs[Long](c).toDouble
      }
  }

  private def writeRuns(): Unit = writeLines(new File(work, "runs.jsonl"),
    runs.map { case (id, t, st) =>
      s"""{"run_id": "$id", "loaded_at": "${t.toString.stripSuffix(".0")}", "records": ${st.records}, "bytes": ${st.bytes}}"""
    }.toSeq)

  private def writeResult(metrics: Map[String, Double], roundS: Seq[Double]): Unit = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    val ms = (metrics ++ (if (trace) extra else Nil))
      .toSeq.sortBy(_._1).map { case (k, v) => s""""$k": ${num(v)}""" }.mkString(", ")
    val errs = ops.errors.map(e => "\"" + e.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
    writeLines(new File(work, "result.json"), Seq(
      s"""{"workload": "$workload", "seed": $seed, "trace": $trace, "round_s": ${roundS.map(num).mkString("[", ", ", "]")}, """ +
        s""""units_per_round": $unitsPerRound, "in_round_gcs": ${heap.inRoundGcs}, """ +
        s""""in_round_heap_mb": ${num(heap.inRoundMb)}, "pre_round_heap_mb": ${num(heap.forcedMb)}, """ +
        s""""attempted": ${ops.attempted}, "failed": ${ops.failed}, "errors": ${errs.mkString("[", ", ", "]")}, """ +
        s""""metrics": {$ms}}"""))
  }

  private def writeLines(f: File, lines: Seq[String]): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }

  private def copyTree(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      from.listFiles().foreach(c => copyTree(c, new File(to, c.getName)))
    } else java.nio.file.Files.copy(from.toPath, to.toPath)
}

/** Heap watch over the timed rounds: the largest heap occupancy right
  * after any collection while `armed`, read from the collectors'
  * notifications, so collections inside a round count. Full collections
  * are forced before every round, so each round starts from the live
  * set and no round inherits the garbage of the one before; a round
  * with no collection reads that live set. Spark drops unpersisted blocks and released
  * broadcasts asynchronously, so that sample is the smallest heap over
  * at least half a second of collections, continued while cached RDD
  * blocks remain. */
final class HeapWatch {
  @volatile var armed = false
  @volatile private var inRound = 0L
  @volatile private var gcs = 0
  private var forced = 0L

  locally {
    import com.sun.management.GarbageCollectionNotificationInfo
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    import javax.management.openmbean.CompositeData
    val onGc = new NotificationListener {
      def handleNotification(n: Notification, handback: Any): Unit =
        if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          // the forced collections between rounds are sampled by collect()
          if (info.getGcCause != "System.gc()") {
            val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
            synchronized { inRound = math.max(inRound, used); gcs += 1 }
          }
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(onGc, null, null)
      case _ =>
    }
  }

  /** Forces full collections and samples the heap they leave. */
  def collect(): Unit = {
    var least = Long.MaxValue
    var tries = 0
    while (tries < 3 || (tries < 30 && org.apache.spark.lakebench.SparkInternals.rddBlocks() > 0)) {
      System.gc()
      least = math.min(least, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
      Thread.sleep(100)
      tries += 1
    }
    forced = math.max(forced, least)
  }

  def inRoundGcs: Int = gcs
  def inRoundMb: Double = inRound / 1048576.0
  def forcedMb: Double = forced / 1048576.0
  def peakMb: Double = math.max(inRound, forced) / 1048576.0
}
