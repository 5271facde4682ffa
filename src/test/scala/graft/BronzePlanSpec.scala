package graft

import graft.sources.Bronze
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** Bronze read scale property: line-number assignment must not shuffle
  * the raw text — only the tiny (path, id) aggregate crosses the wire.
  * (A row_number window over source_blob_path would re-shuffle the
  * whole corpus on every load.)
  */
class BronzePlanSpec extends SparkSpec {
  import spark.implicits._

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
