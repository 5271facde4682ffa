package graft

import java.io.{BufferedReader, File, FileInputStream, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.zip.GZIPInputStream

import graft.pipeline.MedallionPipeline
import graft.sources.Bronze
import graft.tools.PlanDump
import org.apache.spark.JobCounter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Bronze read scale properties: a read is one pass over the files it
  * selects — line numbers come from the scan itself (no shuffle, no
  * broadcast, never the raw text across an Exchange), and a one-run
  * read lists only that run's files.
  */
class BronzePlanSpec extends SparkSpec {
  import spark.implicits._

  /** The data files Spark lists under `dir` (no hidden/crc files). */
  private def dataFiles(dir: File): Seq[File] =
    if (dir.isDirectory) dir.listFiles().toSeq.flatMap(dataFiles)
    else if (dir.getName.startsWith(".") || dir.getName.startsWith("_")) Nil
    else Seq(dir)

  /** (file name, 1-based line number, line) for every line of every
    * data file under `dir`, read on the driver. */
  private def driverLines(dir: String): Set[(String, Int, String)] =
    dataFiles(new File(dir)).flatMap { f =>
      val raw = new FileInputStream(f)
      val in = if (f.getName.endsWith(".gz")) new GZIPInputStream(raw) else raw
      val r = new BufferedReader(new InputStreamReader(in, UTF_8))
      try Iterator.continually(r.readLine()).takeWhile(_ != null)
        .zipWithIndex.map { case (l, i) => (f.getName, i + 1, l) }.toList
      finally r.close()
    }.toSet

  private def sparkLines(df: DataFrame): Set[(String, Int, String)] =
    df.select("source_blob_path", "source_line_no", "raw_line").collect()
      .map(r => (new File(new java.net.URI(r.getString(0)).getPath).getName,
        r.getInt(1), r.getString(2))).toSet

  private def writePlain(dir: String, name: String,
      lines: Seq[String]): Unit = {
    new File(dir).mkdirs()
    Files.write(new File(dir, name).toPath,
      lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }

  private def writeRun(base: String, runId: String, lines: Seq[String],
      parts: Int, scope: Option[String] = None): Unit = {
    val df = lines.toDF("line")
      .withColumn("entity", lit("e"))
      .withColumn("ingestion_date", lit("2026-01-01"))
      .withColumn("run_id", lit(runId))
    Bronze.write(scope.fold(df)(s => df.withColumn("scope", lit(s))),
      base, "src", parts)
  }

  test("line numbers correct across files; no Exchange carries raw text") {
    val root = tmpDir("bronzeplan")
    // two files for the same run (two write calls -> two part files)
    for (batch <- Seq(Seq("""{"id":1}""", """{"id":2}""", """{"id":3}"""),
      Seq("""{"id":4}""", """{"id":5}"""))) {
      Bronze.write(batch.toDF("line")
        .withColumn("entity", lit("e"))
        .withColumn("ingestion_date", lit("2026-01-01"))
        .withColumn("run_id", lit("r1")), s"$root/bronze", "src")
    }
    val df = Bronze.read(spark, s"$root/bronze", "src", "e")

    // per-file numbering restarts at 1 and is consecutive
    val byFile = df.select("source_blob_path", "source_line_no", "raw_line")
      .collect().groupBy(_.getString(0))
    assert(byFile.size == 2)
    for ((_, rows) <- byFile)
      assert(rows.map(_.getInt(1)).sorted.toSeq == (1 to rows.length))
    // all five records present exactly once
    assert(df.count() == 5)
    assert(df.select("raw_line").distinct().count() == 5)

    // the physical plan's shuffles must not carry the text column
    val shuffles = df.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e.output.map(_.name)
    }
    assert(shuffles.forall(out =>
      !out.exists(n => n == "value" || n == "raw_line")),
      s"a shuffle carries the raw text: $shuffles")
  }

  test("source_line_no = per-file 1..n: small files packed into one " +
      "scan partition") {
    val root = tmpDir("bronzepack") + "/bronze"
    val runDir = s"$root/src/entity=e/ingestion_date=2026-01-01/run_id=r1"
    for (f <- 1 to 5)
      writePlain(runDir, s"part-$f.txt", (1 to f * 3).map(i => s"""{"f":$f,"i":$i}"""))
    withConf("spark.sql.files.openCostInBytes" -> "0",
        "spark.sql.files.minPartitionNum" -> "1") {
      val df = Bronze.read(spark, root, "src", "e")
      assert(df.rdd.getNumPartitions == 1,
        "the layout must pack all five files into one scan partition")
      assert(sparkLines(df) == driverLines(runDir))
      assert(df.count() == (1 to 5).map(_ * 3).sum)
    }
  }

  test("source_line_no = per-file 1..n: a plain file larger than " +
      "maxPartitionBytes is read whole") {
    val root = tmpDir("bronzebig") + "/bronze"
    val runDir = s"$root/src/entity=e/ingestion_date=2026-01-01/run_id=r1"
    writePlain(runDir, "part-big.txt",
      (1 to 2000).map(i => s"""{"id":$i,"pad":"${"x" * (i % 17)}"}"""))
    writePlain(runDir, "part-small.txt", Seq("""{"id":0}"""))
    withConf("spark.sql.files.maxPartitionBytes" -> "4096",
        "spark.sql.files.openCostInBytes" -> "0") {
      // the plain text source would split the big file into many ranges
      assert(spark.read.text(runDir).rdd.getNumPartitions > 5)
      val df = Bronze.read(spark, root, "src", "e")
      assert(sparkLines(df) == driverLines(runDir))
      assert(df.agg(max("source_line_no")).head().getInt(0) == 2000)
    }
  }

  test("source_line_no = per-file 1..n: gzip parts across two runs") {
    val root = tmpDir("bronzegz") + "/bronze"
    writeRun(root, "r1", (1 to 40).map(i => s"""{"r":1,"i":$i}"""), parts = 2)
    writeRun(root, "r2", (1 to 25).map(i => s"""{"r":2,"i":$i}"""), parts = 3)
    val entityDir = s"$root/src/entity=e"
    assert(dataFiles(new File(entityDir)).size == 5)
    assert(sparkLines(Bronze.read(spark, root, "src", "e")) ==
      driverLines(entityDir))
    assert(sparkLines(Bronze.readRun(spark, root, "src", "e", "r2")) ==
      driverLines(s"$entityDir/ingestion_date=2026-01-01/run_id=r2"))
  }

  test("readRun prunes at the scan: run_id partition filter, only the " +
      "run's files listed") {
    val root = tmpDir("bronzeprune") + "/bronze"
    for ((r, parts) <- Seq("r1" -> 2, "r2" -> 3, "r3" -> 1))
      writeRun(root, r, (1 to 30).map(i => s"""{"run":"$r","i":$i}"""), parts)
    val df = Bronze.readRun(spark, root, "src", "e", "r2")
    assert(df.collect().length == 30)
    val scans = PlanWalk.collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    assert(scans.size == 1)
    val scan = scans.head
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "run_id")),
      s"run_id is not a partition filter: ${scan.partitionFilters}")
    val runFiles = dataFiles(new File(
      s"$root/src/entity=e/ingestion_date=2026-01-01/run_id=r2")).size
    assert(runFiles == 3)
    assert(scan.metrics("numFiles").value == runFiles)
  }

  test("read's plan has no shuffle and no broadcast") {
    val root = tmpDir("bronzenoex") + "/bronze"
    writeRun(root, "r1", (1 to 10).map(i => s"""{"i":$i}"""), parts = 2)
    writeRun(root, "r2", (1 to 10).map(i => s"""{"i":$i}"""), parts = 2)
    for (df <- Seq(Bronze.read(spark, root, "src", "e"),
        Bronze.readRun(spark, root, "src", "e", "r1"))) {
      df.collect()
      val ex = PlanDump.exchanges(df.queryExecution.executedPlan)
      assert(ex == PlanDump.Exchanges(0, 0, 0), s"exchanges in bronze read: $ex")
    }
  }

  test("read's schema is pinned: names, types, order, nullability") {
    val root = tmpDir("bronzeschema") + "/bronze"
    writeRun(root, "r1", Seq("""{"i":1}"""), parts = 1)
    writeRun(root, "r1", Seq("""{"i":1}"""), parts = 1, scope = Some("s1"))
    val lineage = StructType(Seq(
      StructField("source_blob_path", StringType, nullable = false),
      StructField("raw_line", StringType, nullable = true)))
    val tail = Seq(
      StructField("entity", StringType, nullable = true),
      StructField("ingestion_date", DateType, nullable = true),
      StructField("run_id", StringType, nullable = true),
      StructField("source_line_no", IntegerType, nullable = true))
    assert(Bronze.read(spark, root, "src", "e").schema ==
      StructType(lineage ++ tail))
    val scoped = StructType(lineage ++
      (StructField("scope", StringType, nullable = true) +: tail))
    assert(Bronze.readRun(spark, root, "src", "e", "r1",
      scope = Some("s1")).schema == scoped)
  }

  /** Jobs of one `loadEvoSilver` of `runId`: 20 members, ids from `from`. */
  private def silverLoadJobs(root: String, pipe: MedallionPipeline,
      runId: String, from: Int): Int = {
    val lines = (from until from + 20)
      .map(i => s"""{"idMember":$i,"name":"m$i"}""")
    Bronze.write(lines.toDF("line")
      .withColumn("entity", lit("members"))
      .withColumn("ingestion_date", lit("2026-01-01"))
      .withColumn("run_id", lit(runId)), s"$root/bronze", "evo")
    JobCounter.jobsDuring(spark.sparkContext) {
      pipe.loadEvoSilver("members", "idMember", runId,
        ts("2026-01-01T00:00:00Z"))
    }._2
  }

  test("a one-run loadEvoSilver launches exactly 1 job") {
    val root = tmpDir("bronzejobs")
    val pipe = new MedallionPipeline(spark, root)
    val jobs = silverLoadJobs(root, pipe, "r1", 1)
    assert(jobs == 1, s"loadEvoSilver ran $jobs jobs")
    assert(spark.read.parquet(pipe.silverPath("evo", "members")).count() == 20)
  }

  test("a second run's loadEvoSilver into an existing table: exactly 1 job") {
    val root = tmpDir("bronzejobs")
    val pipe = new MedallionPipeline(spark, root)
    silverLoadJobs(root, pipe, "r1", 1)
    // ids 11..30: 10 updates, 10 inserts
    val jobs = silverLoadJobs(root, pipe, "r2", 11)
    assert(jobs == 1, s"loadEvoSilver ran $jobs jobs")
    assert(spark.read.parquet(pipe.silverPath("evo", "members")).count() == 30)
  }

  test("latestRunId lists run directories: no job, plain and scoped") {
    val root = tmpDir("bronzelatest") + "/bronze"
    assert(Bronze.latestRunId(spark, root, "src", "e").isEmpty)
    for (r <- Seq("20260102T000000Z", "20260110T000000Z", "20260103T000000Z"))
      writeRun(root, r, Seq("""{"i":1}"""), parts = 1)
    val scopedRoot = tmpDir("bronzelatestscoped") + "/bronze"
    writeRun(scopedRoot, "20260105T000000Z", Seq("""{"i":1}"""), 1, Some("a"))
    writeRun(scopedRoot, "20260107T000000Z", Seq("""{"i":1}"""), 1, Some("b"))
    val (latest, jobs) = JobCounter.jobsDuring(spark.sparkContext) {
      (Bronze.latestRunId(spark, root, "src", "e"),
        Bronze.latestRunId(spark, scopedRoot, "src", "e"),
        Bronze.latestRunId(spark, scopedRoot, "src", "e", Some("a")),
        Bronze.latestRunId(spark, scopedRoot, "src", "e", Some("c")))
    }
    assert(jobs == 0)
    assert(latest == (Some("20260110T000000Z"), Some("20260107T000000Z"),
      Some("20260105T000000Z"), None))
  }

  test("AQE final plans report real whole-stage-codegen coverage") {
    // pre-execution, an adaptive plan prints isFinalPlan=false and ZERO
    // WholeStageCodegen spans — the r2 audit read that and concluded
    // codegen was off. Execute the plan itself, then audit the final
    // adaptive plan (the PlanDump tool does the same).
    val df = spark.range(100000L).toDF("id")
      .groupBy((col("id") % 7).as("k"))
      .agg(sum("id").as("s"))
      .filter(col("s") > 0)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val before = graft.tools.PlanDump.codegenSpans(
      df.queryExecution.executedPlan.toString())
    df.queryExecution.executedPlan.execute().count()
    val plan = df.queryExecution.executedPlan.toString()
    val after = graft.tools.PlanDump.codegenSpans(plan)
    assert(plan.contains("isFinalPlan=true"))
    assert(after >= 2, s"expected >=2 codegen spans (each side of the " +
      s"shuffle), got $after in final plan:\n$plan")
    // the pre-execution count is exactly the trap: document it held
    assert(before == 0)
  }

  test("WatermarkStore: save/load round-trip with the 5-minute overlap") {
    import graft.sources.WatermarkStore
    val store = new WatermarkStore(spark, tmpDir("wm"))
    // unknown watermark -> None (caller falls back to full backfill)
    assert(store.load("pipedrive", "comercial", "deals").isEmpty)
    val cursor = java.time.Instant.parse("2026-03-01T12:00:00Z")
    store.save("pipedrive", "comercial", "deals", cursor)
    // default read applies the reference's 5-minute re-extraction
    // overlap (pipedrive_bronze.py:236-240)
    assert(store.load("pipedrive", "comercial", "deals")
      .contains(cursor.minus(java.time.Duration.ofMinutes(5))))
    assert(store.load("pipedrive", "comercial", "deals",
      overlap = java.time.Duration.ZERO).contains(cursor))
    // scoped isolation: another scope's watermark is untouched
    assert(store.load("pipedrive", "expansao", "deals").isEmpty)
    // overwrite advances the cursor
    val later = cursor.plusSeconds(3600)
    store.save("pipedrive", "comercial", "deals", later)
    assert(store.load("pipedrive", "comercial", "deals",
      overlap = java.time.Duration.ZERO).contains(later))
  }
}
