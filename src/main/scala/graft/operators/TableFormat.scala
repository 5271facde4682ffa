package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Storage-format seam for the gold/silver tables. The pipeline binds
  * to THIS interface, not to the parquet MERGE emulation, so a
  * transactional format can drop in without touching any transformer
  * or pipeline code:
  *
  *  - [[ParquetTableFormat]] (default here): plain parquet with
  *    MergeOps' read∪merge∪swap emulation — correct and
  *    partition-pruned, but an upsert rewrites the touched partitions.
  *  - a Delta/Iceberg implementation maps `upsert` to `MERGE INTO`,
  *    `insertIgnore` to `WHEN NOT MATCHED THEN INSERT`,
  *    `replacePartitions` to `replaceWhere` — file-level rewrites with
  *    a transaction log. The sandbox ships no Delta jars (offline
  *    build), so that implementation lives behind this trait instead
  *    of in it; BASELINE's stated target ("Parquet/Delta with schema
  *    management") is the contract.
  */
trait TableFormat {
  def exists(spark: SparkSession, path: String): Boolean
  def read(spark: SparkSession, path: String): Option[DataFrame]

  /** Keyed upsert, latest-by `versionCol`; `preserveOnUpdate` columns
    * keep their existing-target values on update; non-empty
    * `partitionCols` requests a partition-pruned merge. */
  def upsert(spark: SparkSession, source: DataFrame, path: String,
      keys: Seq[String], versionCol: String,
      preserveOnUpdate: Seq[String] = Nil,
      partitionCols: Seq[String] = Nil): Unit

  /** ON CONFLICT DO NOTHING — only absent keys are added. */
  def insertIgnore(spark: SparkSession, source: DataFrame, path: String,
      keys: Seq[String]): Unit

  /** TRUNCATE + INSERT. */
  def fullRefresh(spark: SparkSession, source: DataFrame,
      path: String): Unit

  /** Rewrite only the partitions present in `source`. */
  def replacePartitions(spark: SparkSession, source: DataFrame,
      path: String, partitionCol: String): Unit
}

/** In-memory implementation — the second binding that PROVES the seam:
  * the same MedallionPipeline specs run green over either format, so
  * no pipeline code secretly depends on parquet-on-disk behavior.
  * Tables live in a map keyed by path; every write is eagerly
  * materialized (localCheckpoint) so an upsert whose source derives
  * from the stored table can never read its own half-written output —
  * the in-memory analog of MergeOps' tmp-swap. Mutation ops are
  * recorded in `log` for assertion.
  *
  * MERGE semantics are shared with the parquet implementation
  * (MergeOps.merge / MergeOps.firstLoad), not re-implemented — a format
  * binding chooses STORAGE, never meaning. */
class InMemoryTableFormat extends TableFormat {
  import org.apache.spark.sql.functions.col

  private val tables =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]
  val log = scala.collection.mutable.ArrayBuffer.empty[(String, String)]

  private def store(path: String, df: DataFrame): Unit =
    tables(path) = df.localCheckpoint(true)

  def exists(spark: SparkSession, path: String): Boolean =
    tables.contains(path)
  def read(spark: SparkSession, path: String): Option[DataFrame] =
    tables.get(path)

  def upsert(spark: SparkSession, source: DataFrame, path: String,
      keys: Seq[String], versionCol: String,
      preserveOnUpdate: Seq[String], partitionCols: Seq[String]): Unit = {
    log += (("upsert", path))
    store(path, tables.get(path) match {
      case None =>
        MergeOps.firstLoad(source, keys, versionCol, preserveOnUpdate)
      case Some(target) =>
        MergeOps.merge(target, source, keys, versionCol, preserveOnUpdate)
    })
  }

  def insertIgnore(spark: SparkSession, source: DataFrame, path: String,
      keys: Seq[String]): Unit = {
    log += (("insertIgnore", path))
    store(path, tables.get(path) match {
      case None => source.dropDuplicates(keys)
      case Some(target) =>
        val cols = target.columns.toSeq
        target.unionByName(
          source.select(cols.map(col): _*)
            .dropDuplicates(keys)
            .join(target.select(keys.map(col): _*).distinct(), keys,
              "left_anti"))
    })
  }

  def fullRefresh(spark: SparkSession, source: DataFrame,
      path: String): Unit = {
    log += (("fullRefresh", path))
    store(path, source)
  }

  def replacePartitions(spark: SparkSession, source: DataFrame,
      path: String, partitionCol: String): Unit = {
    log += (("replacePartitions", path))
    store(path, tables.get(path) match {
      case None => source
      case Some(target) =>
        source.unionByName(
          target.join(source.select(col(partitionCol)).distinct(),
            Seq(partitionCol), "left_anti"),
          allowMissingColumns = true)
    })
  }
}

/** Plain-parquet implementation backed by MergeOps (see its scaladoc
  * for the swap/crash-safety protocol). */
object ParquetTableFormat extends TableFormat {
  def exists(spark: SparkSession, path: String): Boolean =
    MergeOps.exists(spark, path)
  def read(spark: SparkSession, path: String): Option[DataFrame] =
    MergeOps.readIfExists(spark, path)
  def upsert(spark: SparkSession, source: DataFrame, path: String,
      keys: Seq[String], versionCol: String,
      preserveOnUpdate: Seq[String], partitionCols: Seq[String]): Unit =
    MergeOps.upsert(spark, source, path, keys, versionCol,
      preserveOnUpdate, partitionCols)
  def insertIgnore(spark: SparkSession, source: DataFrame, path: String,
      keys: Seq[String]): Unit =
    MergeOps.insertIgnore(spark, source, path, keys)
  def fullRefresh(spark: SparkSession, source: DataFrame,
      path: String): Unit =
    MergeOps.fullRefresh(spark, source, path)
  def replacePartitions(spark: SparkSession, source: DataFrame,
      path: String, partitionCol: String): Unit =
    MergeOps.replacePartitions(spark, source, path, partitionCol)
}
