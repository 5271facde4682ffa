package graft

import graft.operators.{Dedup, MergeOps}
import org.apache.spark.sql.functions._

/** Upsert/dedup semantics: idempotency (load∘load ≡ load), last-write-
  * wins, _loaded_at preservation, insert-ignore, partition replace —
  * the reference's core invariants (SURVEY.md §5.2).
  */
class MergeDedupSpec extends SparkSpec {
  import spark.implicits._

  test("keepLatest: latest per key with total tie-break") {
    val df = Seq(
      (1L, "v1", "2026-01-01T00:00:00Z", 1),
      (1L, "v2", "2026-01-02T00:00:00Z", 2),
      (1L, "v2-tie", "2026-01-02T00:00:00Z", 3),
      (2L, "only", "2026-01-01T00:00:00Z", 1))
      .toDF("id", "payload", "at", "line")
      .withColumn("at", to_timestamp(col("at")))
    val got = Dedup.keepLatest(df, Seq("id"), Seq(col("at"), col("line")))
      .orderBy("id").collect()
    assert(got.map(_.getString(1)).toSeq == Seq("v2-tie", "only"))
  }

  test("upsert: insert, update, idempotent replay, _loaded_at preserved") {
    val path = tmpDir("merge") + "/t"
    def batch(rows: Seq[(Long, String, String)]) =
      rows.toDF("id", "payload", "at")
        .withColumn("_updated_at", to_timestamp(col("at"))).drop("at")
        .withColumn("_loaded_at", col("_updated_at"))

    val b1 = batch(Seq((1L, "a", "2026-01-01T00:00:00Z"),
      (2L, "b", "2026-01-01T00:00:00Z")))
    MergeOps.upsert(spark, b1, path, Seq("id"), "_updated_at",
      preserveOnUpdate = Seq("_loaded_at"))

    val b2 = batch(Seq((2L, "b2", "2026-01-05T00:00:00Z"),
      (3L, "c", "2026-01-05T00:00:00Z")))
    MergeOps.upsert(spark, b2, path, Seq("id"), "_updated_at",
      preserveOnUpdate = Seq("_loaded_at"))

    val got = spark.read.parquet(path).orderBy("id").collect()
    assert(got.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b2"), (3L, "c")))
    // id=2 updated: payload new, _loaded_at preserved from first load
    val r2 = got(1)
    assert(r2.getTimestamp(r2.fieldIndex("_loaded_at")) ==
      ts("2026-01-01T00:00:00Z"))
    assert(r2.getTimestamp(r2.fieldIndex("_updated_at")) ==
      ts("2026-01-05T00:00:00Z"))

    // replay the same batch: nothing changes (idempotency)
    MergeOps.upsert(spark, b2, path, Seq("id"), "_updated_at",
      preserveOnUpdate = Seq("_loaded_at"))
    val again = spark.read.parquet(path).orderBy("id").collect()
    assert(again.map(_.toString).toSeq == got.map(_.toString).toSeq)
  }

  test("upsert: older version does not overwrite newer (last-write-wins)") {
    val path = tmpDir("merge-lww") + "/t"
    def row(id: Long, p: String, at: String) =
      Seq((id, p)).toDF("id", "payload")
        .withColumn("_updated_at", to_timestamp(lit(at)))
    MergeOps.upsert(spark, row(1, "new", "2026-02-01T00:00:00Z"), path,
      Seq("id"), "_updated_at")
    MergeOps.upsert(spark, row(1, "stale", "2026-01-01T00:00:00Z"), path,
      Seq("id"), "_updated_at")
    assert(spark.read.parquet(path).collect()(0).getString(1) == "new")
  }

  test("upsert schema evolution: new source column widens target with nulls") {
    val path = tmpDir("evolve") + "/t"
    def base(id: Long, p: String, at: String) =
      Seq((id, p)).toDF("id", "payload")
        .withColumn("_updated_at", to_timestamp(lit(at)))
    MergeOps.upsert(spark, base(1, "a", "2026-01-01T00:00:00Z"), path,
      Seq("id"), "_updated_at")
    // next batch carries a new column
    val grown = base(2, "b", "2026-01-02T00:00:00Z")
      .withColumn("new_field", lit("fresh"))
    MergeOps.upsert(spark, grown, path, Seq("id"), "_updated_at")
    val got = spark.read.parquet(path).orderBy("id").collect()
    assert(got.map(r => Option(r.getAs[String]("new_field"))).toSeq ==
      Seq(None, Some("fresh")))
    // a batch MISSING target columns must not null-out history: the
    // update to id=2 keeps its payload, id=3 inserts with null payload
    val narrow = Seq((2L, "2026-01-03T00:00:00Z"), (3L, "2026-01-03T00:00:00Z"))
      .toDF("id", "at")
      .withColumn("_updated_at", to_timestamp(col("at"))).drop("at")
      .withColumn("new_field", lit("narrow"))
    MergeOps.upsert(spark, narrow, path, Seq("id"), "_updated_at")
    val after = spark.read.parquet(path).orderBy("id").collect()
    assert(after.length == 3)
    assert(after.map(r => Option(r.getAs[String]("payload"))).toSeq ==
      Seq(Some("a"), Some("b"), None)) // id=2 history preserved
    assert(after(1).getAs[String]("new_field") == "narrow") // update applied
  }

  test("insertIgnore: existing keys untouched, new keys added") {
    val path = tmpDir("ignore") + "/t"
    MergeOps.insertIgnore(spark,
      Seq((1L, "tagA"), (1L, "tagB")).toDF("ticket_id", "tag"),
      path, Seq("ticket_id", "tag"))
    MergeOps.insertIgnore(spark,
      Seq((1L, "tagA"), (2L, "tagC")).toDF("ticket_id", "tag"),
      path, Seq("ticket_id", "tag"))
    val got = spark.read.parquet(path).orderBy("ticket_id", "tag")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "tagA"), (1L, "tagB"), (2L, "tagC")))
  }

  test("partitioned upsert touches only delta partitions (files byte-stable)") {
    val path = tmpDir("pruned") + "/t"
    def batch(rows: Seq[(Long, String, Int)], at: String) =
      rows.toDF("id", "payload", "entry_year")
        .withColumn("_updated_at", to_timestamp(lit(at)))
        .withColumn("_loaded_at", col("_updated_at"))
    MergeOps.upsert(spark, batch(Seq((1L, "a23", 2023), (2L, "a24", 2024)),
      "2026-01-01T00:00:00Z"), path, Seq("id"), "_updated_at",
      preserveOnUpdate = Seq("_loaded_at"), partitionCols = Seq("entry_year"))

    def partFiles(year: Int): Map[String, (Long, Long)] = {
      val d = new java.io.File(s"$path/entry_year=$year")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> (f.length(), f.lastModified())).toMap
    }
    val before2023 = partFiles(2023)
    assert(before2023.nonEmpty)

    // delta touches 2024 only: update id=2, insert id=3
    MergeOps.upsert(spark,
      batch(Seq((2L, "b24", 2024), (3L, "c24", 2024)), "2026-02-01T00:00:00Z"),
      path, Seq("id"), "_updated_at",
      preserveOnUpdate = Seq("_loaded_at"), partitionCols = Seq("entry_year"))

    // 2023's files are the SAME files — names, sizes, mtimes unchanged
    assert(partFiles(2023) == before2023)
    val got = spark.read.parquet(path).orderBy("id").collect()
    assert(got.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a23"), (2L, "b24"), (3L, "c24")))
    // _loaded_at preserved across the pruned merge for updated id=2
    assert(got(1).getTimestamp(got(1).fieldIndex("_loaded_at")) ==
      ts("2026-01-01T00:00:00Z"))
    assert(got(1).getTimestamp(got(1).fieldIndex("_updated_at")) ==
      ts("2026-02-01T00:00:00Z"))
  }

  test("partitioned upsert + schema evolution: whole-table reads see the new column") {
    val path = tmpDir("prunedevo") + "/t"
    def batch(df: org.apache.spark.sql.DataFrame, at: String) =
      df.withColumn("_updated_at", to_timestamp(lit(at)))
        .withColumn("_loaded_at", col("_updated_at"))
    MergeOps.upsert(spark,
      batch(Seq((1L, "a23", 2023), (2L, "a24", 2024))
        .toDF("id", "payload", "entry_year"), "2026-01-01T00:00:00Z"),
      path, Seq("id"), "_updated_at",
      preserveOnUpdate = Seq("_loaded_at"), partitionCols = Seq("entry_year"))
    // delta touches 2024 only and carries a NEW column
    MergeOps.upsert(spark,
      batch(Seq((3L, "c24", 2024, "extra"))
        .toDF("id", "payload", "entry_year", "new_col"),
        "2026-02-01T00:00:00Z"),
      path, Seq("id"), "_updated_at",
      preserveOnUpdate = Seq("_loaded_at"), partitionCols = Seq("entry_year"))
    // the whole-table read must surface new_col (null for untouched
    // partitions), not silently drop it based on one footer's schema
    val got = MergeOps.readIfExists(spark, path).get.orderBy("id").collect()
    assert(got.length == 3)
    val idx = got(0).fieldIndex("new_col")
    assert(got(0).isNullAt(idx)) // 2023 partition: widened with null
    assert(got(2).getString(idx) == "extra")
  }

  test("replacePartitions + schema evolution: all partitions re-share the schema") {
    val path = tmpDir("replevo") + "/t"
    MergeOps.replacePartitions(spark,
      Seq((1L, "a23", 2023), (2L, "a24", 2024))
        .toDF("id", "payload", "entry_year"), path, "entry_year")
    // widened replacement for 2024 only
    MergeOps.replacePartitions(spark,
      Seq((3L, "c24", 2024, "extra"))
        .toDF("id", "payload", "entry_year", "new_col"), path, "entry_year")
    val got = spark.read.parquet(path).orderBy("id").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 3L)) // 2024 replaced
    val idx = got(0).fieldIndex("new_col") // visible on plain reads
    assert(got(0).isNullAt(idx) && got(1).getString(idx) == "extra")
  }

  test("partition-swap crash recovery: parked partition restored BEFORE the next merge reads") {
    val path = tmpDir("bakparts") + "/t"
    def batch(rows: Seq[(Long, String, Int)], at: String) =
      rows.toDF("id", "payload", "entry_year")
        .withColumn("_updated_at", to_timestamp(lit(at)))
        .withColumn("_loaded_at", col("_updated_at"))
    MergeOps.upsert(spark, batch(Seq((1L, "a24", 2024), (2L, "b24", 2024)),
      "2026-01-01T00:00:00Z"), path, Seq("id"), "_updated_at",
      preserveOnUpdate = Seq("_loaded_at"), partitionCols = Seq("entry_year"))
    // simulate a crash between the two swap renames: 2024 parked in
    // __bakparts, target slot empty
    val f = new java.io.File(s"$path/entry_year=2024")
    val bak = new java.io.File(s"$path" + "__bakparts/entry_year=2024")
    bak.getParentFile.mkdirs()
    assert(f.renameTo(bak))
    // the next delta upsert must restore the parked history FIRST —
    // otherwise it merges against an empty partition and the bak's
    // rows (id=1,2) are permanently destroyed
    MergeOps.upsert(spark, batch(Seq((3L, "c24", 2024)),
      "2026-02-01T00:00:00Z"), path, Seq("id"), "_updated_at",
      preserveOnUpdate = Seq("_loaded_at"), partitionCols = Seq("entry_year"))
    val got = spark.read.parquet(path).orderBy("id").collect()
    assert(got.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a24"), (2L, "b24"), (3L, "c24")))
  }

  test("swap crash recovery: headless table restored from __bak") {
    val path = tmpDir("crash") + "/t"
    Seq((1L, "x")).toDF("id", "payload").write.parquet(path)
    // simulate a crash between rename(target->bak) and rename(tmp->target)
    val f = new java.io.File(path)
    assert(f.renameTo(new java.io.File(path + "__bak")))
    assert(MergeOps.exists(spark, path)) // recovers, doesn't report missing
    val got = spark.read.parquet(path).collect()
    assert(got.map(_.getString(1)).toSeq == Seq("x"))
    assert(!new java.io.File(path + "__bak").exists())
  }

  test("replacePartitions rewrites only touched partitions") {
    val path = tmpDir("parts") + "/t"
    MergeOps.replacePartitions(spark,
      Seq((1L, 2023), (2L, 2024)).toDF("id", "entry_year"), path,
      "entry_year")
    // replace 2024 only; 2023 must survive
    MergeOps.replacePartitions(spark,
      Seq((99L, 2024)).toDF("id", "entry_year"), path, "entry_year")
    val got = spark.read.parquet(path).orderBy("entry_year")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(got == Seq((1L, 2023), (99L, 2024)))
  }

  test("dedupParagraphs: cross-doc drops, order kept, within-doc spared") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a\nb\nc"), // b shared with doc 2
      (2L, "b\nd"),
      (3L, "e"),       // untouched
      (4L, "b"),       // fully boilerplate -> empty string
      (5L, "x\nx")     // within-doc repeat: ONE distinct doc, stays
    ).toDF("id", "text")
    val got = Dedup.dedupParagraphs(docs, "id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    assert(got(1L) === (("a\nc", 1L)))
    assert(got(2L) === (("d", 1L)))
    assert(got(3L) === (("e", 0L)))
    assert(got(4L) === (("", 1L)))
    assert(got(5L) === (("x\nx", 0L)))
  }

  test("dedupParagraphs plan: no Exchange ever carries paragraph text") {
    import spark.implicits._
    val docs = (1L to 50L).map(i => (i, s"p$i\nq${i % 5}\nr$i"))
      .toDF("id", "text")
    val out = Dedup.dedupParagraphs(docs, "id", "text")
    out.collect() // force planning through AQE to the final plan
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case o => o +: o.children.flatMap(nodes)
    }
    val exchanges = nodes(out.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }
    assert(exchanges.nonEmpty)
    exchanges.foreach { e =>
      val carried = e.output.map(_.name)
      assert(!carried.contains("__para"),
        s"dedup shuffle carries paragraph text: $carried")
    }
  }

  test("dedupParagraphs: null-text docs surface as empty, never vanish") {
    import spark.implicits._
    val docs = Seq((1L, "a\nb"), (2L, null.asInstanceOf[String]))
      .toDF("id", "text")
    val got = Dedup.dedupParagraphs(docs, "id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    assert(got.keySet === Set(1L, 2L))
    assert(got(2L) === (("", 0L)))
    assert(got(1L) === (("a\nb", 0L)))
  }

  test("dedupParagraphsIncremental: empty index == batch; index drops bite") {
    import spark.implicits._
    val day1 = Seq((1L, "a\nb\nc"), (2L, "b\nd")).toDF("id", "text")
    val emptyIdx = Seq.empty[(String, Long)].toDF("p_hash", "n_docs")
    val (c0, idx1) = Dedup.dedupParagraphsIncremental(
      day1, "id", "text", emptyIdx)
    val batch = Dedup.dedupParagraphs(day1, "id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(c0.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2))).toSet === batch)
    // index counts every SEEN paragraph: a(1), b(2), c(1), d(1)
    val counts = idx1.collect().map(r => r.getLong(1)).sorted.toSeq
    assert(counts === Seq(1L, 1L, 1L, 2L))

    // day 2: 'a' repeats (historical count 1 + incoming 1 > 1 -> drop),
    // 'e' is new (kept); day-1 docs are NOT revisited
    val day2 = Seq((3L, "a\ne")).toDF("id", "text")
    val (c2, idx2) = Dedup.dedupParagraphsIncremental(
      day2, "id", "text", idx1)
    val got = c2.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got === Set((3L, "e", 1L)))
    // updated index: a now 2, e added at 1, untouched hashes carried
    val m = idx2.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m.size === 5)
    assert(m.values.toSeq.sorted === Seq(1L, 1L, 1L, 2L, 2L))
  }

  test("dedupParagraphs: maxDocFreq loosens the drop threshold") {
    import spark.implicits._
    val docs = Seq((1L, "p\nq"), (2L, "p"), (3L, "p")).toDF("id", "text")
    // p is in 3 docs: survives maxDocFreq=3, dies at 2
    val keep = Dedup.dedupParagraphs(docs, "id", "text", maxDocFreq = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(keep(1L) === "p\nq" && keep(2L) === "p")
    val drop = Dedup.dedupParagraphs(docs, "id", "text", maxDocFreq = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(drop(1L) === "q" && drop(2L) === "" && drop(3L) === "")
  }

  test("goldenRecord: per-field mode, lexical ties, nulls never win, " +
    "all-null field stays null") {
    import spark.implicits._
    val df = Seq(
      // cluster 1: city mode = NY (2 vs 1); tier tie a/b 2-2 → "a";
      // mail has nulls but a single non-null value wins over 3 nulls
      (1L, "NY", "a", null.asInstanceOf[String]),
      (1L, "NY", "b", "x@y.z"),
      (1L, "LA", "a", null.asInstanceOf[String]),
      (1L, "SF", "b", null.asInstanceOf[String]),
      // cluster 2: single member; mail all-null → stays null
      (2L, "LA", "c", null.asInstanceOf[String]))
      .toDF("id", "city", "tier", "mail")
    val got = Dedup.goldenRecord(df, Seq("id"),
      Seq("city", "tier", "mail"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getString(2), Option(r.getString(3)),
          r.getLong(4)))).toMap
    assert(got(1L) == (("NY", "a", Some("x@y.z"), 4L)))
    assert(got(2L) == (("LA", "c", None, 1L)))
  }

  test("goldenRecord: one unpivot pass — shuffle count independent of " +
    "field width") {
    import spark.implicits._
    val df = (0 until 300).map(i =>
      (i % 10L, s"c${i % 3}", s"t${i % 4}", s"m${i % 2}", s"z${i % 5}"))
      .toDF("id", "f1", "f2", "f3", "f4")
    val plan4 = Dedup.goldenRecord(df, Seq("id"),
      Seq("f1", "f2", "f3", "f4")).queryExecution.executedPlan.toString
    val plan1 = Dedup.goldenRecord(df, Seq("id"), Seq("f1"))
      .queryExecution.executedPlan.toString
    def shuffles(p: String) = p.sliding("Exchange".length)
      .count(_ == "Exchange")
    assert(shuffles(plan4) == shuffles(plan1))
  }
}
