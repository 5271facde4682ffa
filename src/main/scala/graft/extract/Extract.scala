package graft.extract

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

/** Shared extractor mechanics: page buffering into numbered gzip
  * JSONL bronze parts (reference K1 small-file batching,
  * pipedrive_bronze.py:248-272 / zendesk_bronze.py:246-279) and the
  * cursor/watermark documents, all through the Hadoop FS API so the
  * same code lands on local disk in tests and object storage in
  * production. Parts are written where [[graft.sources.Bronze.read]]
  * lists them, so an extractor run feeds the existing silver/gold
  * pipeline unchanged.
  */
final class BronzePartWriter(spark: SparkSession, base: String,
    source: String, scope: String, entity: String,
    ingestionDate: String, runId: String, batchPages: Int,
    maxBufferRecords: Int) {
  private val conf = spark.sparkContext.hadoopConfiguration
  private val buf = scala.collection.mutable.ArrayBuffer.empty[String]
  private var pagesInBuf = 0
  private var partsWritten = 0
  private var total = 0L

  private def partPath(part: Int) = new org.apache.hadoop.fs.Path(
    f"$base/$source/scope=$scope/entity=$entity/" +
      f"ingestion_date=$ingestionDate/run_id=$runId/" +
      f"part-$part%05d.jsonl.gz")

  /** Buffer one page; flush when the page or record budget fills. */
  def page(rows: Seq[String]): Unit = {
    buf ++= rows
    total += rows.size
    pagesInBuf += 1
    if (pagesInBuf >= batchPages || buf.size >= maxBufferRecords) flush()
  }

  private def flush(): Unit = {
    if (buf.nonEmpty) {
      partsWritten += 1
      val p = partPath(partsWritten)
      val fs = p.getFileSystem(conf)
      val out = new java.util.zip.GZIPOutputStream(fs.create(p, true))
      try out.write((buf.mkString("\n") + "\n").getBytes("UTF-8"))
      finally out.close()
      buf.clear()
    }
    pagesInBuf = 0
  }

  /** Final flush; returns (records, parts). */
  def close(): (Long, Int) = { flush(); (total, partsWritten) }
}

/** Cursor watermark documents — the Zendesk shape, where the resume
  * token is an opaque STRING cursor plus the initial epoch
  * (zendesk_bronze.py:230-244, saved as {"mode","cursor","start_time"}).
  * Sibling of [[graft.sources.WatermarkStore]] (instant-valued); both
  * live under `_meta/{source}/watermarks/`. */
final class CursorStore(spark: SparkSession, base: String) {
  private val conf = spark.sparkContext.hadoopConfiguration

  private def path(source: String, scope: String, entity: String) =
    new org.apache.hadoop.fs.Path(
      s"$base/_meta/$source/watermarks/scope=$scope/entity=$entity.json")

  def save(source: String, scope: String, entity: String,
      doc: JsonNode): Unit = {
    val p = path(source, scope, entity)
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, true)
    try out.write(Api.mapper.writeValueAsBytes(doc))
    finally out.close()
  }

  def load(source: String, scope: String,
      entity: String): Option[JsonNode] = {
    val p = path(source, scope, entity)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      scala.util.Try(Api.mapper.readTree(text)).toOption
    }
  }
}

object Extract {
  /** Run ids are the RFC-3339 start instant with separators stripped
    * (pipedrive_bronze.py:213) — lexicographic order IS run order,
    * which `Bronze.latestRunId` relies on. */
  def runId(now: java.time.Instant): String =
    now.toString.replace(":", "").replace("-", "")

  def ingestionDate(now: java.time.Instant): String =
    now.atZone(java.time.ZoneOffset.UTC).toLocalDate.toString

  /** The reference's extra deletion guard applied to every
    * incremental page (pipedrive_bronze.py:251-256): rows flagged
    * deleted/is_deleted never land in bronze. */
  def dropDeleted(rows: Seq[JsonNode]): Seq[JsonNode] =
    rows.filterNot { r =>
      r.isObject && (r.path("deleted").asBoolean(false) ||
        r.path("is_deleted").asBoolean(false))
    }

  /** JSON array field → nodes (missing/null → empty). */
  def arr(node: JsonNode, field: String): Seq[JsonNode] = {
    val a = node.path(field)
    if (!a.isArray) Seq.empty
    else (0 until a.size).map(a.get)
  }
}
