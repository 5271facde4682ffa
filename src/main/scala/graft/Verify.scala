package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: restrict to the named queries (local
    // iteration aid; the driver always passes exactly two args)
    val only: Set[String] = args.drop(2).toSet
    // the one session shape that Bench times and the tests run
    val spark = GraftSession.get(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // failures are also RECORDED (verify_errors.json) — a stderr-only
    // failure leaves the query silently absent from the output dir,
    // which is how three green gates vanished from the round-6
    // correctness list without anything turning red
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // per-gate output-schema manifest (output_schemas.json): the r7
    // driver reds were DECIMAL columns reaching gate outputs (DuckDB
    // hashes decimals differently); the sweep that caught them is now
    // recorded per run AND asserted by GateSchemaSpec — not re-done
    // by hand each round
    val schemas = scala.collection.mutable.LinkedHashMap[String, String]()
    // deterministic name order + begin/end stamps: when a run wedges,
    // the last "start" line names the culprit instead of leaving a
    // 40-of-159 output dir and a mystery (which is exactly how the
    // round-7 full-verify hang had to be diagnosed with jstack)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      System.err.println(s"[verify] start $name")
      // drain operator-persisted frames between queries (the Bench
      // inter-rep discipline): r12 QueryDefs persist their repeatedly
      // scanned inputs, and 198 queries' worth of leftover cache
      // blocks would otherwise pin executor storage for the whole run
      CacheRegistry.release()
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      try {
        val df = fn(spark, sfDir)
        schemas(name) = df.schema.fields
          .map(f => s"${f.name}:${f.dataType.catalogString}")
          .mkString(", ")
        df.coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(f"[verify] done  $name ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = s"${e.getClass.getSimpleName}: ${e.getMessage}"
      }
    }
    // late-bind the export-reading oracles' scratch dir to THIS run's
    // sfDir (the Spark side wrote to gatePath(sfDir, …)) — token
    // substitution at dump time, so registry init order cannot matter
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${jsonString(k)}: ${jsonString(v.replace(Tables.GateDirToken, Tables.gateTag(sfDir)))}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"),
      errors.map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
        .mkString("{", ",", "}"))
    Files.writeString(Paths.get(s"$outDir/output_schemas.json"),
      schemas.map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
        .mkString("{", ",", "}"))
    spark.stop()
  }

  /** JSON string literal: escapes backslash, quote and ALL control
    * chars (<0x20) — a tab or CR in builder-authored SQL or an error
    * message would otherwise make a reader's json.load fail. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
