package graft.tools

import graft.{GraftSession, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic corpus scaler for sf1-class validation of the heavy
  * dedup/ANN family: no sf1 testdata ships, so this replicates the
  * sf0.1 tables `factor`× with the two shapes that stress the
  * operators at scale —
  *
  *  - copy k of each document appends a ` rep{k}` marker token: a
  *    NEAR-dup of the original (Jaccard just under 1 for long docs,
  *    legitimately distinct for very short ones) — the realistic
  *    near-dup cluster distribution, ×factor;
  *  - one pathological block: the min-id document duplicated
  *    `pathoDups` times VERBATIM in a far id range — the
  *    mass-duplication pathology the hot-bucket guard exists for
  *    (pathoDups > maxBucket forces the hub-star path);
  *  - embeddings replicate verbatim with offset ids (exact-cosine
  *    clusters of `factor`).
  *
  * All ids/text are pure functions of the source rows — any run
  * produces the identical corpus.
  *
  *   sbt "runMain graft.tools.ScaleUp /root/testdata/sf0.1 /tmp/sfx 10"
  */
object ScaleUp {

  val CopyStride = 100000000L
  // far beyond any copy-k id (k*CopyStride + doc_id): replica and
  // pathology id ranges must never collide — duplicate doc_ids with
  // different texts would break the unique-id contract of the dedup
  // operators under test
  val PathoBase = 1000000000000L

  def scaleDocs(docs: DataFrame, factor: Int, pathoDups: Int): DataFrame = {
    require(factor >= 1 && pathoDups >= 0)
    val reps = docs
      .withColumn("__k", explode(sequence(lit(0), lit(factor - 1))))
      .withColumn("doc_id", col("doc_id") + col("__k") * lit(CopyStride))
      .withColumn("text",
        when(col("__k") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" rep"), col("__k"))))
      .drop("__k")
    val patho = docs.orderBy(col("doc_id").asc).limit(1)
      .withColumn("__k", explode(sequence(lit(0), lit(pathoDups - 1))))
      .withColumn("doc_id", lit(PathoBase) + col("__k"))
      .drop("__k")
    if (pathoDups == 0) reps else reps.unionByName(patho)
  }

  def scaleEmbeddings(embs: DataFrame, factor: Int): DataFrame =
    embs
      .withColumn("__k", explode(sequence(lit(0), lit(factor - 1))))
      .withColumn("vec_id", col("vec_id") + col("__k") * lit(CopyStride))
      .drop("__k")

  /** Replicate a relational table `factor`× offsetting every key column
    * by k·[[CopyStride]]. Offsetting primary AND foreign keys by the
    * same stride keeps every join consistent per replica (replica k of
    * orders joins replica k of customer), so per-key densities — and
    * therefore operator work per row — match the source corpus. The
    * stride is divisible by 100, so `% 100` computed-key joins (j4)
    * see the same bucket structure. Dimension keys (nation/region) are
    * deliberately NOT offset: dims stay fixed, fact tables fan onto
    * them ×factor, which is how a real 10× corpus behaves.
    */
  def scaleRelational(df: DataFrame, factor: Int,
      keyCols: Seq[String]): DataFrame = {
    require(factor >= 1)
    val reps = df.withColumn("__k", explode(sequence(lit(0), lit(factor - 1))))
    keyCols.foldLeft(reps) { (acc, k) =>
      acc.withColumn(k, col(k) + col("__k") * lit(CopyStride))
    }.drop("__k")
  }

  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, factorS) = args.take(3)
    val factor = factorS.toInt
    // the session pins UTC: the Tables() NTZ->TIMESTAMP cast is
    // session-timezone-dependent, and an unpinned session on a non-UTC
    // host would shift every scaled event instant relative to the
    // oracle's UTC read
    val spark = GraftSession.get(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    spark.sparkContext.setLogLevel("WARN")
    scaleDocs(Tables(spark, srcDir, "documents"), factor, pathoDups = 2048)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    scaleEmbeddings(Tables(spark, srcDir, "embeddings"), factor)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    // Relational + events family so the FULL query surface benches at
    // factor×, not just the heavy dedup/ANN queries. Keys that appear
    // in more than one table offset identically (custkey ↔ o_custkey ↔
    // events.user_id; orderkey ↔ l_orderkey; …).
    val facts = Seq(
      "customer" -> Seq("c_custkey"),
      "supplier" -> Seq("s_suppkey"),
      "part" -> Seq("p_partkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "events" -> Seq("event_id", "user_id"))
    facts.foreach { case (t, keys) =>
      scaleRelational(Tables(spark, srcDir, t), factor, keys)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
    // dims copy through unscaled
    Seq("region", "nation").foreach { t =>
      Tables(spark, srcDir, t)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
    println(s"[scaleup] wrote ${factor}x corpus to $outDir")
    spark.stop()
  }
}
