package graft

import graft.operators.{CommitLogTableFormat, Dedup, InMemoryTableFormat,
  MergeOps, ParquetTableFormat, TableFormat}
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.JobCounter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** The lake's fixed per-table cost: `MergeOps.readIfExists` opens a
  * table without a Spark job and with the schema Spark's own inference
  * gives, and the one-window merge stores exactly what the join-based
  * merge it replaced stored (rows, column names, types and order),
  * through every [[TableFormat]] binding. */
class LakeReadMergeSpec extends SparkSpec {
  import spark.implicits._

  private def fields(df: DataFrame) =
    df.schema.fields.toSeq.map(f => (f.name, f.dataType))

  private def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq

  /** readIfExists against a plain `spark.read.parquet` of the same
    * path: same schema and rows, and no job to open the table. */
  private def assertFooterRead(path: String): Unit = {
    val inferred = spark.read.parquet(path)
    val (read, jobs) = JobCounter.jobsDuring(spark.sparkContext) {
      val df = MergeOps.readIfExists(spark, path).get
      df.schema
      df
    }
    assert(jobs == 0, s"opening $path ran $jobs job(s)")
    assert(read.schema == inferred.schema)
    assert(rows(read) == rows(inferred))
  }

  private def batch(data: Seq[(Long, String, Int)], at: String) =
    data.toDF("id", "payload", "entry_year")
      .withColumn("_updated_at", to_timestamp(lit(at)))
      .withColumn("_loaded_at", col("_updated_at"))

  test("readIfExists: footer schema == inferred schema, no job (flat)") {
    val path = tmpDir("footer") + "/t"
    MergeOps.upsert(spark, batch(Seq((1L, "a", 2023), (2L, "b", 2024)),
      "2026-01-01T00:00:00Z"), path, Seq("id"), "_updated_at",
      preserveOnUpdate = Seq("_loaded_at"))
    assertFooterRead(path)
  }

  test("readIfExists: footer schema == inferred schema, no job " +
      "(hive-partitioned)") {
    val path = tmpDir("footer") + "/t"
    MergeOps.upsert(spark, batch(Seq((1L, "a", 2023), (2L, "b", 2024)),
      "2026-01-01T00:00:00Z"), path, Seq("id"), "_updated_at",
      preserveOnUpdate = Seq("_loaded_at"), partitionCols = Seq("entry_year"))
    assertFooterRead(path)
    // the partition column is still inferred from the directories
    assert(MergeOps.readIfExists(spark, path).get.columns.last == "entry_year")
  }

  test("readIfExists: footer schema == inferred schema, no job " +
      "(widened by an upsert)") {
    for (parts <- Seq(Nil, Seq("entry_year"))) {
      val path = tmpDir("footer") + "/t"
      MergeOps.upsert(spark, batch(Seq((1L, "a", 2023), (2L, "b", 2024)),
        "2026-01-01T00:00:00Z"), path, Seq("id"), "_updated_at",
        preserveOnUpdate = Seq("_loaded_at"), partitionCols = parts)
      MergeOps.upsert(spark, batch(Seq((3L, "c", 2024)),
        "2026-02-01T00:00:00Z").withColumn("added", lit(7)), path,
        Seq("id"), "_updated_at", preserveOnUpdate = Seq("_loaded_at"),
        partitionCols = parts)
      assertFooterRead(path)
      assert(MergeOps.readIfExists(spark, path).get.columns.contains("added"))
    }
  }

  test("readIfExists: footer schema == inferred schema, no job " +
      "(TIMESTAMP(NANOS) under nanosAsLong, no Spark metadata)") {
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    val path = tmpDir("footer") + "/t"
    val schema = MessageTypeParser.parseMessageType(
      """message t {
        |  required int64 ts_ns (TIMESTAMP(NANOS,true));
        |  optional int64 ts_us (TIMESTAMP(MICROS,true));
        |  optional binary name (STRING);
        |}""".stripMargin)
    val conf = new org.apache.hadoop.conf.Configuration()
    val w = ExampleParquetWriter.builder(new Path(path, "part-0.parquet"))
      .withType(schema).withConf(conf).build()
    val g = new SimpleGroupFactory(schema)
    try for (i <- 1 to 3)
      w.write(g.newGroup().append("ts_ns", 1700000000000000000L + i)
        .append("ts_us", 1700000000000000L + i).append("name", s"n$i"))
    finally w.close()
    assertFooterRead(path)
    val read = MergeOps.readIfExists(spark, path).get
    assert(read.schema("ts_ns").dataType == org.apache.spark.sql.types.LongType)
    assert(read.schema("ts_us").dataType ==
      org.apache.spark.sql.types.TimestampType)
  }

  test("readIfExists: an empty table root falls back to inference") {
    val path = tmpDir("footer") + "/t"
    new java.io.File(path).mkdirs()
    // no data file: Spark's own error, not a footer read of nothing
    intercept[org.apache.spark.sql.AnalysisException](
      MergeOps.readIfExists(spark, path).get.schema)
  }

  // -------------------------------------------------------------- merge

  /** The join-based merge the one-window merge replaced — the oracle:
    * what a format stores after an upsert must not change. */
  private def joinMerge(target: DataFrame, source: DataFrame,
      keys: Seq[String], versionCol: String,
      preserveOnUpdate: Seq[String]): DataFrame = {
    val srcNames = source.columns.map(_.toLowerCase).toSet
    val missing = target.columns.toSeq
      .filterNot(c => srcNames.contains(c.toLowerCase))
    val merged = Dedup.keepLatest(
      source.withColumn("__is_new", lit(1))
        .unionByName(target.withColumn("__is_new", lit(0)),
          allowMissingColumns = true),
      keys, Seq(col(versionCol), col("__is_new")))
    val preserve = (preserveOnUpdate ++ missing).distinct
    if (preserve.isEmpty) merged.drop("__is_new")
    else {
      val old = target.select(
        (keys.map(col) ++ preserve.map(c => col(c).as(s"__old_$c"))): _*)
      preserve.foldLeft(
        merged.drop("__is_new").join(old, keys, "left")) { (acc, c) =>
          acc.withColumn(c, coalesce(col(s"__old_$c"), col(c)))
            .drop(s"__old_$c")
        }
    }
  }

  /** Upserts `batches` in order through `format` and, after each, checks
    * the stored table against the oracle's: same rows, same column
    * names, types and order. */
  private def assertMergesLikeJoin(format: TableFormat, path: String,
      keys: Seq[String], preserve: Seq[String],
      batches: Seq[DataFrame]): Unit = {
    var want: DataFrame = null
    for ((b, i) <- batches.zipWithIndex) {
      format.upsert(spark, b, path, keys, "v", preserve, Nil)
      // a first load stores what a merge into an empty table stores
      want = joinMerge(if (want == null) b.limit(0) else want, b, keys, "v",
        preserve)
      want = want.localCheckpoint(true)
      val got = format.read(spark, path).get
      assert(fields(got) == fields(want), s"schema after batch $i")
      assert(rows(got) == rows(want), s"rows after batch $i")
    }
  }

  private val formats: Seq[(String, () => TableFormat)] = Seq(
    "parquet" -> (() => ParquetTableFormat),
    "in-memory" -> (() => new InMemoryTableFormat),
    "commit-log" -> (() => CommitLogTableFormat))

  private def cases(name: String)(
      body: (TableFormat, String) => Unit): Unit =
    for ((fname, mk) <- formats)
      test(s"one-window merge == join merge ($fname): $name") {
        body(mk(), tmpDir("merge") + "/t")
      }

  // key columns not first in the source, so the keys-first layout of a
  // preserving merge shows
  private def rowsOf(data: (String, Option[Long], Option[Long], Long,
      String)*) =
    data.toDF("payload", "k1", "k2", "v", "loaded")
  private val day1 = rowsOf(("a", Some(1L), Some(1L), 1L, "L1"),
    ("b", Some(2L), Some(1L), 1L, "L1"))
  private val day2 = rowsOf(("a2", Some(1L), Some(1L), 2L, "L2"),
    ("c", Some(3L), Some(1L), 2L, "L2"))

  cases("NULL keys with a preserved column") { (format, path) =>
    assertMergesLikeJoin(format, path, Seq("k1", "k2"), Seq("loaded"), Seq(
      rowsOf(("a", Some(1L), Some(1L), 1L, "L1"),
        ("n", Some(1L), None, 1L, "L1"), ("m", None, None, 1L, "L1")),
      rowsOf(("a2", Some(1L), Some(1L), 2L, "L2"),
        ("n2", Some(1L), None, 2L, "L2"), ("m2", None, None, 2L, "L2"),
        ("b", Some(2L), Some(1L), 2L, "L2"))))
  }

  cases("target-only columns are kept") { (format, path) =>
    assertMergesLikeJoin(format, path, Seq("k1"), Nil,
      Seq(day1, day2.drop("loaded", "k2")))
  }

  cases("source-only columns widen the table") { (format, path) =>
    assertMergesLikeJoin(format, path, Seq("k1"), Seq("loaded"),
      Seq(day1, day2.withColumn("added", col("v") * 10)))
  }

  cases("plain upsert keeps the source's column order") { (format, path) =>
    // a dot in a column name is part of the name, not a field path
    def dotted(df: DataFrame) = df.withColumn("x.y", col("v") + 1)
    assertMergesLikeJoin(format, path, Seq("k1"), Nil,
      Seq(dotted(day1), dotted(day2)))
  }

  cases("the first load stores the layout later upserts keep") {
      (format, path) =>
    format.upsert(spark, day1, path, Seq("k1", "k2"), "v", Seq("loaded"), Nil)
    val first = fields(format.read(spark, path).get)
    assert(first.map(_._1) == Seq("k1", "k2", "payload", "v", "loaded"))
    format.upsert(spark, day2, path, Seq("k1", "k2"), "v", Seq("loaded"), Nil)
    assert(fields(format.read(spark, path).get) == first)
  }

  cases("a stale redelivery never wins, a replay changes nothing") {
      (format, path) =>
    assertMergesLikeJoin(format, path, Seq("k1"), Seq("loaded"),
      Seq(day1, day2, day1, day2, day2))
    assert(format.read(spark, path).get.orderBy("k1")
      .select("payload", "loaded").as[(String, String)].collect().toSeq ==
      Seq(("a2", "L1"), ("b", "L1"), ("c", "L2")))
  }

  // ------------------------------------------------- one-stage writes

  /** The jobs `f` launches and how many `node`s the final adaptive
    * plan of each query it runs holds (shuffle exchanges by default). */
  private def staged(f: => Unit,
      node: PartialFunction[SparkPlan, SparkPlan] = {
        case e: ShuffleExchangeExec => e }): (Int, Seq[Int]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val l = new QueryExecutionListener {
      def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    JobCounter.drain(spark.sparkContext) // earlier queries' events
    spark.listenerManager.register(l)
    val (_, jobs) = try JobCounter.jobsDuring(spark.sparkContext)(f)
      finally spark.listenerManager.unregister(l)
    (jobs, plans.asScala.toSeq.map(p => PlanWalk.collect(p)(node).size))
  }

  private def assertOneStage(what: String, queries: Int)(f: => Unit): Unit = {
    val (jobs, shuffles) = staged(f)
    assert(shuffles.size == queries, s"$what: ${shuffles.size} queries")
    assert(shuffles.forall(_ == 0), s"$what: exchanges $shuffles")
    assert(jobs == queries, s"$what: $jobs jobs")
  }

  private def keyed(data: (Long, String)*) = data.toDF("k", "payload")

  test("below the bound: each write is one job, no shuffle exchange") {
    val flat = tmpDir("onestage") + "/t"
    assertOneStage("first load", 1)(MergeOps.upsert(spark,
      batch(Seq((1L, "a", 2023), (2L, "b", 2024)), "2026-01-01T00:00:00Z"),
      flat, Seq("id"), "_updated_at", preserveOnUpdate = Seq("_loaded_at")))
    assertOneStage("flat upsert", 1)(MergeOps.upsert(spark,
      batch(Seq((2L, "b2", 2024), (3L, "c", 2024)), "2026-02-01T00:00:00Z"),
      flat, Seq("id"), "_updated_at", preserveOnUpdate = Seq("_loaded_at")))

    val parted = tmpDir("onestage") + "/t"
    assertOneStage("partitioned first load", 1)(MergeOps.upsert(spark,
      batch(Seq((1L, "a", 2023), (2L, "b", 2024)), "2026-01-01T00:00:00Z"),
      parted, Seq("id"), "_updated_at", preserveOnUpdate = Seq("_loaded_at"),
      partitionCols = Seq("entry_year")))
    // the touched partitions are found in the merge's own plan
    assertOneStage("partitioned upsert", 1)(MergeOps.upsert(spark,
      batch(Seq((2L, "b2", 2024), (3L, "c", 2024)), "2026-02-01T00:00:00Z"),
      parted, Seq("id"), "_updated_at", preserveOnUpdate = Seq("_loaded_at"),
      partitionCols = Seq("entry_year")))

    val bridge = tmpDir("onestage") + "/t"
    assertOneStage("first insertIgnore", 1)(
      MergeOps.insertIgnore(spark, keyed((1L, "a"), (1L, "a")), bridge,
        Seq("k")))
    assertOneStage("insertIgnore", 1)(
      MergeOps.insertIgnore(spark, keyed((1L, "x"), (2L, "b")), bridge,
        Seq("k")))
    assert(spark.read.parquet(bridge).orderBy("k").as[(Long, String)]
      .collect().toSeq == Seq((1L, "a"), (2L, "b")))
  }

  test("below the bound: a partitioned upsert sorts its rows once") {
    // the key window, the touched-partition window and the partitioned
    // write share one sort; each extra sort holds its own memory page
    val parted = tmpDir("onesort") + "/t"
    def upsert(b: DataFrame) = MergeOps.upsert(spark, b, parted, Seq("id"),
      "_updated_at", preserveOnUpdate = Seq("_loaded_at"),
      partitionCols = Seq("entry_year"))
    upsert(batch(Seq((1L, "a", 2023), (2L, "b", 2024)), "2026-01-01T00:00:00Z"))
    val (_, sorts) = staged(upsert(batch(Seq((2L, "b2", 2024), (3L, "c", 2024)),
      "2026-02-01T00:00:00Z")), { case s: SortExec => s })
    assert(sorts == Seq(1), s"sorts per query: $sorts")
  }

  test("above the bound: the shuffle is still planned") {
    aboveBound {
      val flat = tmpDir("shuffled") + "/t"
      for (day <- Seq("2026-01-01T00:00:00Z", "2026-02-01T00:00:00Z")) {
        val (_, shuffles) = staged(MergeOps.upsert(spark,
          batch(Seq((1L, "a", 2023), (2L, day, 2024)), day), flat, Seq("id"),
          "_updated_at", preserveOnUpdate = Seq("_loaded_at")))
        assert(shuffles.size == 1 && shuffles.head > 0, s"$day: $shuffles")
      }
      val parted = tmpDir("shuffled") + "/t"
      for (day <- Seq("2026-01-01T00:00:00Z", "2026-02-01T00:00:00Z")) {
        val (_, shuffles) = staged(MergeOps.upsert(spark,
          batch(Seq((1L, "a", 2023), (2L, day, 2024)), day), parted,
          Seq("id"), "_updated_at", preserveOnUpdate = Seq("_loaded_at"),
          partitionCols = Seq("entry_year")))
        assert(shuffles.nonEmpty && shuffles.forall(_ > 0), s"$day: $shuffles")
      }
      val bridge = tmpDir("shuffled") + "/t"
      for (b <- Seq(keyed((1L, "a")), keyed((1L, "x"), (2L, "b")))) {
        val (_, shuffles) = staged(
          MergeOps.insertIgnore(spark, b, bridge, Seq("k")))
        assert(shuffles.size == 1 && shuffles.head > 0, s"$shuffles")
      }
    }
  }

  /** The same upserts below and above the bound store the same table
    * after every batch: rows, column names, types and order. */
  private def assertPathsAgree(keys: Seq[String], preserve: Seq[String],
      parts: Seq[String], batches: Seq[DataFrame]): Unit = {
    val (one, shuffled) = (tmpDir("onepart") + "/t", tmpDir("shuffled") + "/t")
    for ((b, i) <- batches.zipWithIndex) {
      MergeOps.upsert(spark, b, one, keys, "v", preserve, parts)
      aboveBound(MergeOps.upsert(spark, b, shuffled, keys, "v", preserve,
        parts))
      val (got, want) = (MergeOps.readIfExists(spark, one).get,
        MergeOps.readIfExists(spark, shuffled).get)
      assert(fields(got) == fields(want), s"schema after batch $i")
      assert(rows(got) == rows(want), s"rows after batch $i")
    }
  }

  test("one partition == shuffle: NULL keys, preserved and target-only " +
      "columns, widening, replay") {
    val nulls = Seq(
      rowsOf(("a", Some(1L), Some(1L), 1L, "L1"),
        ("n", Some(1L), None, 1L, "L1"), ("m", None, None, 1L, "L1")),
      rowsOf(("a2", Some(1L), Some(1L), 2L, "L2"),
        ("n2", Some(1L), None, 2L, "L2"), ("m2", None, None, 2L, "L2")))
    assertPathsAgree(Seq("k1", "k2"), Seq("loaded"), Nil, nulls)
    assertPathsAgree(Seq("k1"), Nil, Nil, Seq(day1, day2.drop("loaded", "k2")))
    assertPathsAgree(Seq("k1"), Seq("loaded"), Nil,
      Seq(day1, day2.withColumn("added", col("v") * 10), day1, day2, day2))
    // partitioned by a column the key determines
    def parted(df: DataFrame) = df.withColumn("p", col("k1") % 2)
    assertPathsAgree(Seq("k1"), Seq("loaded"), Seq("p"),
      Seq(day1, day2, day1, day2.withColumn("added", lit(1))).map(parted))
  }

  test("insertIgnore: one partition == shuffle == dedup + anti join") {
    def rowsOf(data: (Option[Long], String)*) = data.toDF("k", "payload")
    val (one, shuffled) = (tmpDir("onepart") + "/t", tmpDir("shuffled") + "/t")
    val batches = Seq(rowsOf((Some(1L), "a"), (Some(1L), "a"), (None, "n")),
      rowsOf((Some(1L), "x"), (Some(2L), "b"), (None, "n"), (None, "n"))
        .withColumn("added", lit(7)),
      rowsOf((Some(3L), "c"), (Some(2L), "y")))
    var want: DataFrame = null
    for ((b, i) <- batches.zipWithIndex) {
      MergeOps.insertIgnore(spark, b, one, Seq("k"))
      aboveBound(MergeOps.insertIgnore(spark, b, shuffled, Seq("k")))
      // the anti-join form: a NULL key never matches an existing row
      val novel = b.dropDuplicates("k")
      want = (if (want == null) novel else want.unionByName(
        novel.join(want.select("k").distinct(), Seq("k"), "left_anti"),
        allowMissingColumns = true)).localCheckpoint(true)
      for (got <- Seq(spark.read.parquet(one), spark.read.parquet(shuffled))) {
        assert(fields(got) == fields(want), s"schema after batch $i")
        assert(rows(got) == rows(want), s"rows after batch $i")
      }
    }
  }
}
