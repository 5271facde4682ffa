package graft.sources

import graft.expressions.FileLineNo
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.text.TextFileFormat
import org.apache.spark.sql.functions._

/** Bronze layer: immutable JSONL files under hive-style partition paths
  *   bronze/{source}/[scope={s}/]entity={e}/ingestion_date={d}/run_id={r}/
  * (reference layout: src/common/lake.py:143-169,
  * src/extractors/pipedrive_bronze.py:145-146).
  *
  * Reading returns one row per raw line with full lineage — the raw
  * text is preserved verbatim (ADR-002: schema drift must never lose
  * fields; parsing to a struct happens later, alongside the raw string).
  */
object Bronze {

  def entityPath(base: String, source: String, entity: String,
      scope: Option[String] = None): String = {
    val scopePart = scope.map(s => s"scope=$s/").getOrElse("")
    s"$base/$source/${scopePart}entity=$entity"
  }

  /** Write a batch of raw JSON lines (column `line`, plus partition
    * columns) as gzip JSONL-like text under the layout. `parts` controls
    * small-file compaction (reference buffers pages for the same
    * reason, K1). */
  def write(df: DataFrame, base: String, source: String,
      parts: Int = 1): Unit = {
    val partitionCols =
      Seq("scope", "entity", "ingestion_date", "run_id")
        .filter(df.columns.contains)
    df.repartition(parts)
      .write.mode(SaveMode.Append)
      .partitionBy(partitionCols: _*)
      .option("compression", "gzip")
      .text(s"$base/$source")
  }

  /** Read raw lines with lineage: source_blob_path + per-file line
    * number + partition columns — the (blob, line) dedup key the
    * reference uses (01_stg_pipedrive.sql:24).
    *
    * One pass, no shuffle, no join: files are read whole, in order,
    * by one task each ([[WholeFileText]]), so a counter that restarts
    * at every new `input_file_name()` ([[graft.expressions.FileLineNo]])
    * numbers each file's lines 1..n. Several small files still pack
    * into one scan partition; what is given up is intra-file
    * parallelism for one uncompressed file larger than
    * `spark.sql.files.maxPartitionBytes` — bronze is written gzip,
    * which never splits anyway. */
  def read(spark: SparkSession, base: String, source: String,
      entity: String, scope: Option[String] = None): DataFrame =
    numbered(raw(spark, base, source, entity, scope))

  /** Prune to one run (the reference's latest-run discovery,
    * load_pipedrive_stg.py:104-137). The run predicate is applied to
    * the raw relation before any nondeterministic column exists, so it
    * reaches the scan as a partition filter: the file listing holds
    * only this run's files and no other run's data is read. */
  def readRun(spark: SparkSession, base: String, source: String,
      entity: String, runId: String, scope: Option[String] = None): DataFrame =
    numbered(raw(spark, base, source, entity, scope)
      .filter(col("run_id") === runId))

  /** The newest run id of an entity, from the `run_id=` directory
    * names on the driver — no Spark job, no data read. Run ids sort
    * lexicographically in run order ([[graft.extract.Extract.runId]]). */
  def latestRunId(spark: SparkSession, base: String, source: String,
      entity: String, scope: Option[String] = None): Option[String] = {
    val glob = new Path(
      entityGlob(spark, base, source, entity, scope) + "/*/run_id=*")
    val fs = glob.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option(fs.globStatus(glob)).toSeq.flatten
      .map(_.getPath.getName.stripPrefix("run_id="))
      .maxOption
  }

  // scoped sources nest scope=*/entity=*; detect which layout exists so
  // callers can read all scopes at once (scope=None on a scoped source)
  private def entityGlob(spark: SparkSession, base: String, source: String,
      entity: String, scope: Option[String]): String = {
    val direct = new Path(entityPath(base, source, entity, scope = None))
    val fs = direct.getFileSystem(spark.sparkContext.hadoopConfiguration)
    scope match {
      case Some(_) => entityPath(base, source, entity, scope)
      case None if fs.exists(direct) => direct.toString
      case None => s"$base/$source/scope=*/entity=$entity"
    }
  }

  private def raw(spark: SparkSession, base: String, source: String,
      entity: String, scope: Option[String]): DataFrame =
    spark.read.format(classOf[WholeFileText].getName)
      .option("basePath", s"$base/$source")
      .load(entityGlob(spark, base, source, entity, scope) + "/*/*/*")

  private def numbered(raw: DataFrame): DataFrame = {
    val file = input_file_name()
    val lineNo = GraftColumnBridge.column(
      FileLineNo(GraftColumnBridge.expression(file)))
    val partitionCols = raw.columns.filterNot(_ == "value").map(col)
    raw.select(Seq(file.as("source_blob_path"), col("value").as("raw_line"))
      ++ partitionCols :+ lineNo.as("source_line_no"): _*)
  }
}

/** The text source with every file read whole by one task — the
  * ordering [[graft.expressions.FileLineNo]] numbers lines by. Gzip,
  * bronze's only codec, is non-splittable already; this extends the
  * guarantee to plain text. */
class WholeFileText extends TextFileFormat {
  override def isSplitable(spark: SparkSession,
      options: Map[String, String], path: Path): Boolean = false
  // TextFileFormat is a case class, equal to any subclass instance: a
  // cached plain-text read of the same files would otherwise stand in
  // for this scan, with files split across its partitions
  override def equals(other: Any): Boolean = other.isInstanceOf[WholeFileText]
  override def hashCode(): Int = getClass.hashCode
}

/** Run manifest documents (SURVEY.md §2 K2): one JSON per run under
  * `_meta/{source}/runs/run_id={r}/manifest.json` recording per-
  * scope/entity record and part counts — the reference writes the same
  * document at the end of every extraction run
  * (pipedrive_bronze.py:299-318, scope_report :217-276). Driver-side
  * metadata: tiny files via the Hadoop FS API, no Spark job.
  */
class RunManifest(spark: SparkSession, base: String) {
  private val conf = spark.sparkContext.hadoopConfiguration

  private def path(source: String, runId: String) =
    new org.apache.hadoop.fs.Path(
      s"$base/_meta/$source/runs/run_id=$runId/manifest.json")

  // minimal JSON string escaping — scope/entity/run values flow in
  // from external config and must not be able to corrupt the manifest
  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  def save(source: String, runId: String,
      startedAt: java.time.Instant, finishedAt: java.time.Instant,
      reports: Seq[RunManifest.EntityReport]): Unit = {
    val p = path(source, runId)
    val fs = p.getFileSystem(conf)
    val lines = reports.map { r =>
      val scopePart =
        r.scope.map(s => s""""scope": "${esc(s)}", """).getOrElse("")
      s"""    {$scopePart"entity": "${esc(r.entity)}", """ +
        s""""mode": "${esc(r.mode)}", """ +
        s""""records": ${r.records}, "parts": ${r.parts}}"""
    }.mkString(",\n")
    val doc =
      s"""{
         |  "run_id": "${esc(runId)}",
         |  "run_started_at_utc": "$startedAt",
         |  "run_finished_at_utc": "$finishedAt",
         |  "reports": [
         |$lines
         |  ]
         |}""".stripMargin
    // write-then-rename: a crash mid-write must not leave a torn
    // manifest in place of the previous run's record
    val tmp = new org.apache.hadoop.fs.Path(p.toString + "__tmp")
    val out = fs.create(tmp, true)
    try out.write(doc.getBytes("UTF-8")) finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"manifest rename $tmp -> $p failed")
  }

  def load(source: String, runId: String): Option[String] = {
    val p = path(source, runId)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }
  }

  /** Per-entity report derived from the bronze files a run just wrote
    * (records = raw lines, parts = distinct blobs) — by construction
    * the counts a silver load of the same run will see (V1
    * Audit.runCounts reconciles against this). */
  def reportFor(source: String, entity: String, runId: String,
      mode: String, scope: Option[String] = None): RunManifest.EntityReport = {
    val row = Bronze.readRun(spark, base, source, entity, runId, scope)
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.countDistinct(
          org.apache.spark.sql.functions.col("source_blob_path")))
      .collect()(0)
    RunManifest.EntityReport(scope, entity, mode, row.getLong(0),
      row.getLong(1))
  }
}

object RunManifest {
  case class EntityReport(scope: Option[String], entity: String,
      mode: String, records: Long, parts: Long)
}

/** Watermark documents (SURVEY.md §2 S13): one small JSON per
  * scope+entity holding the last successful cursor, with the 5-minute
  * overlap applied on read (pipedrive_bronze.py:236-240). Stored via the
  * Hadoop FS API so the same code targets local disk or object storage.
  */
class WatermarkStore(spark: SparkSession, base: String) {
  private val conf = spark.sparkContext.hadoopConfiguration

  private def path(source: String, scope: String, entity: String) =
    new org.apache.hadoop.fs.Path(
      s"$base/_meta/$source/watermarks/scope=$scope/entity=$entity.json")

  def save(source: String, scope: String, entity: String,
      lastSuccessfulUntil: java.time.Instant): Unit = {
    val p = path(source, scope, entity)
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, true)
    try out.write(
      s"""{"last_successful_until": "$lastSuccessfulUntil"}"""
        .getBytes("UTF-8"))
    finally out.close()
  }

  def load(source: String, scope: String, entity: String,
      overlap: java.time.Duration = java.time.Duration.ofMinutes(5))
      : Option[java.time.Instant] = {
    val p = path(source, scope, entity)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      """"last_successful_until"\s*:\s*"([^"]+)"""".r
        .findFirstMatchIn(text)
        .map(m => java.time.Instant.parse(m.group(1)).minus(overlap))
    }
  }
}
