package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Keyed-upsert semantics over plain Parquet tables (SURVEY.md §2
  * K3/K4/K7–K10).
  *
  * The reference upserts with `ON CONFLICT (key) DO UPDATE`; with Delta
  * this would be `MERGE INTO`. This environment ships vanilla Spark, so
  * MERGE is emulated as: read target ∪ source → keep-latest per key →
  * atomic overwrite (write tmp, swap). The *semantics* are what parity
  * requires: idempotent, last-write-wins per business key, `_loaded_at`
  * preserved on update while `_updated_at` advances (SURVEY.md §7.3
  * hard-point 3).
  *
  * Scale notes: for FLAT tables overwrite-merge rewrites the table — on
  * a real lake use Delta/Iceberg MERGE. For PARTITIONED tables
  * (`partitionCols` non-empty) the merge is partition-pruned: only the
  * partitions present in the source delta are read, merged, and
  * swapped; untouched partition directories are never opened or
  * rewritten. That is the 100-TB daily-delta story: a 10M-row day of
  * entries merges against one `entry_year`, not the 110M-row history
  * (reference evo_schemas.sql:417-462 partitions `entries` by year for
  * exactly this reason).
  *
  * Fixed per-table cost: a daily delta is tiny, so what an upsert
  * costs is mostly jobs, not data. Opening a table reads its schema
  * from one footer on the driver (`readIfExists`) instead of through
  * Spark's one-task inference job, and the merge itself is one keyed
  * window over target ∪ source (`merge`), with no second scan of the
  * target and no join. One-stage rule ([[OnePartition]]): when the
  * target's listed bytes plus Spark's size estimate of the delta are
  * within the session's `spark.sql.adaptive.coalescePartitions.
  * minPartitionSize` (1 MB by default) — the size below which AQE
  * would collapse the merge's shuffle to one partition anyway — the
  * window or aggregate is planned at one partition (`coalesce(1)`),
  * so no exchange is planned and the write is one stage and one job;
  * a partitioned merge then also finds its touched partitions inside
  * that one plan instead of collecting them first. Above that bound
  * the plan keeps its key shuffle and AQE.
  *
  * Crash safety: every swap goes target→`__bak`, tmp→target, drop bak —
  * a crash between the renames leaves `__bak` holding the full pre-swap
  * table, and the next read/write through this object restores it
  * (`recoverIfHeadless`). Rename results are checked; a failed rename
  * throws instead of silently dropping the table.
  */
object MergeOps {

  private def fs(spark: SparkSession, path: String) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def mv(f: FileSystem, from: Path, to: Path): Unit =
    if (!f.rename(from, to))
      throw new java.io.IOException(s"rename $from -> $to failed")

  /** A crash between the two swap renames leaves the table headless:
    * target missing, `__bak` holding the pre-swap copy. Restore it
    * before answering any existence/read question, so history is never
    * silently rebuilt from a single batch. */
  private def recoverIfHeadless(f: FileSystem, target: Path): Unit = {
    val bak = new Path(target.toString + "__bak")
    if (!f.exists(target) && f.exists(bak)) mv(f, bak, target)
  }

  def exists(spark: SparkSession, path: String): Boolean = {
    val (f, p) = fs(spark, path)
    recoverIfHeadless(f, p)
    f.exists(p)
  }

  /** The table at `path`, if any. Its data schema is read from one
    * footer on the driver and handed to the reader, so opening a table
    * launches no Spark job (see [[footerSchema]]). */
  def readIfExists(spark: SparkSession, path: String): Option[DataFrame] =
    open(spark, path).map(_._1)

  /** [[readIfExists]] plus the bytes of the table's data files, summed
    * over the listing the footer read walks (Long.MaxValue when no
    * listing was taken — a size never guessed small). */
  private def open(spark: SparkSession,
      path: String): Option[(DataFrame, Long)] =
    if (!exists(spark, path)) None
    else {
      val (schema, bytes) = footerSchema(spark, path)
      Some((schema.fold(spark.read.parquet(path))(
        s => spark.read.schema(s).parquet(path)), bytes))
    }

  /** The data schema Spark's non-merging parquet inference would find:
    * the footer of the first data file in path order (the files Spark's
    * file index lists, minus partition columns, which the reader still
    * infers from the directory names). Spark reads that one footer in a
    * one-task job; here it is read on the driver and converted with
    * Spark's own converter under the session's conf. None — infer as
    * usual — when schema merging is on, summary files exist, or there
    * is no data file. Also returns the listed files' total bytes
    * (Long.MaxValue when schema merging skips the listing). */
  private def footerSchema(spark: SparkSession,
      path: String): (Option[StructType], Long) = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled) return (None, Long.MaxValue)
    val (f, root) = fs(spark, path)
    // Spark's file-index name filter (PartitioningAwareFileIndex)
    def hidden(n: String) =
      (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
        n.endsWith("._COPYING_")
    def summary(n: String) =
      n.startsWith("_metadata") || n.startsWith("_common_metadata")
    def files(p: Path): Seq[FileStatus] =
      f.listStatus(p).toSeq
        .filter(s => !hidden(s.getPath.getName) || summary(s.getPath.getName))
        .flatMap(s => if (s.isDirectory) files(s.getPath) else Seq(s))
    val listed = files(root)
    val bytes = listed.map(_.getLen).sum
    if (listed.exists(s => summary(s.getPath.getName))) return (None, bytes)
    (listed.sortBy(_.getPath.toString).headOption.map { first =>
      val meta = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(first,
          spark.sparkContext.hadoopConfiguration),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(first.getPath, meta),
        new ParquetToSparkSchemaConverter(conf))
    }, bytes)
  }

  /** Atomic-ish overwrite: write to `<path>__tmp`, then swap via
    * `__bak` (see crash-safety note on the object). Plain
    * mode("overwrite") deletes the target before reading finishes when
    * target feeds source — the tmp swap also guards partial writes.
    * `partitionCols` preserves a hive partition layout across the
    * rewrite (mixing partitioned and flat files under one table root
    * makes later reads fail with conflicting directory structures). */
  private[operators] def overwrite(spark: SparkSession, df: DataFrame,
      path: String, partitionCols: Seq[String] = Nil): Unit = {
    val (f, target) = fs(spark, path)
    recoverIfHeadless(f, target)
    val tmp = new Path(path + "__tmp")
    val bak = new Path(path + "__bak")
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(tmp.toString)
    // a bak here is stale (the swap it belonged to completed — otherwise
    // recoverIfHeadless would have renamed it back to target above)
    if (f.exists(bak)) f.delete(bak, true)
    if (f.exists(target)) mv(f, target, bak)
    mv(f, tmp, target)
    f.delete(bak, true)
    // the session FileStatusCache may still hold the pre-swap listing
    // for this path; a later read would chase deleted part files
    spark.catalog.refreshByPath(path)
  }

  /** target ∪ source → keep-latest per key, preserving `preserve`
    * columns' target values on update and auto-preserving target-only
    * columns (schema evolution, two-sided and wedge-free).
    * Package-visible: the MERGE semantics are storage-independent, so
    * every [[TableFormat]] implementation shares THIS definition —
    * two formats can't drift apart on what an upsert means.
    *
    * One keyed window does all of it: `row_number` picks the winner,
    * and over the same partitioning a preserved column takes the
    * target row's non-null value (`first(..., ignoreNulls)` over the
    * whole key group), else the winner's. No second target scan, no
    * join. A NULL key never matches an existing row (it would not in
    * a keyed join either), so its preserved columns keep the winner's
    * values. Output columns: [[layout]]. `one` plans the window at
    * one partition ([[OnePartition.fits]]). `touchedBy` (partition
    * columns) keeps only the rows of partitions the source holds a row
    * for, so the target may be read whole; a window over them plans no
    * exchange only with `one`. Its rows are sorted once, by partition
    * then key, for both windows and the partitioned write. */
  private[operators] def merge(target: DataFrame, source: DataFrame,
      keys: Seq[String], versionCol: String,
      preserveOnUpdate: Seq[String], one: Boolean = false,
      touchedBy: Seq[String] = Nil): DataFrame = {
    // Schema evolution (case-insensitive name matching like Spark's
    // resolver): source-only columns widen the table (NULL for old
    // rows); target-only columns are auto-preserved so a transient
    // narrow batch can't null-out history.
    val srcNames = source.columns.map(_.toLowerCase).toSet
    val missing = target.columns.toSeq
      .filterNot(c => srcNames.contains(c.toLowerCase))
    val preserve = (preserveOnUpdate ++ missing).distinct
    val all = OnePartition(source.withColumn("__is_new", lit(1))
      .unionByName(target.withColumn("__is_new", lit(0)),
        allowMissingColumns = true), one)
    // a key's partition is stable (see upsert), so grouping keys within
    // `touchedBy` splits no key group, and the one sort then serves this
    // window, the touched window below and the partitioned write
    val w = Window.partitionBy((touchedBy ++ keys).map(col): _*)
      .orderBy(col(versionCol).desc, col("__is_new").desc)
    val group = w.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val keyed = keys.map(k => col(k).isNotNull).reduce(_ && _)
    val names = all.columns.toSeq.filterNot(_ == "__is_new")
    val out = layout(names, keys, preserve).map { n =>
      preserve.find(is(_, n)).fold(stored(n)) { p =>
        coalesce(when(keyed, first(when(col("__is_new") === 0, stored(n)),
          ignoreNulls = true).over(group)), stored(n)).as(p)
      }
    }
    val merged = all.select(out :+ row_number().over(w).as("__rn") :+
        max(col("__is_new")).over(group).as("__new"): _*)
      .filter(col("__rn") === 1).drop("__rn")
    if (touchedBy.isEmpty) merged.drop("__new")
    else merged.withColumn("__touched", max(col("__new"))
        .over(Window.partitionBy(touchedBy.map(col): _*)))
      .filter(col("__touched") === 1).drop("__new", "__touched")
  }

  private def is(a: String, b: String) = a.equalsIgnoreCase(b)

  // by name as stored: a dot in a column name is not a field path
  private def stored(n: String) = col("`" + n.replace("`", "``") + "`")

  /** A merged table's columns: `names` (source order, target-only
    * columns appended) when nothing is preserved; otherwise the keys
    * first, then the rest in that order. */
  private def layout(names: Seq[String], keys: Seq[String],
      preserve: Seq[String]): Seq[String] =
    if (preserve.isEmpty) names
    else keys.flatMap(k => names.find(is(_, k))) ++
      names.filterNot(n => keys.exists(is(n, _)))

  /** A table's first load: the latest row per key within the batch (ON
    * CONFLICT processes a batch row by row, so duplicate keys in one
    * batch still collapse), in the column [[layout]] every later
    * [[merge]] writes — a table's columns do not move on its second
    * upsert. Shared by every [[TableFormat]], like [[merge]]. */
  private[operators] def firstLoad(source: DataFrame, keys: Seq[String],
      versionCol: String, preserveOnUpdate: Seq[String]): DataFrame = {
    val latest = Dedup.keepLatest(source, keys, Seq(col(versionCol)))
    latest.select(layout(latest.columns.toSeq, keys, preserveOnUpdate)
      .map(stored): _*)
  }

  /** Upsert `source` into the parquet table at `path`, keyed on `keys`,
    * latest-by `versionCol` (must be totally ordered per key — callers
    * append a tie-break column when needed).
    *
    * `preserveOnUpdate`: columns whose existing-target value survives an
    * update (the reference keeps `_loaded_at`, only `_updated_at` moves).
    *
    * `partitionCols` non-empty ⇒ partition-pruned merge: only target
    * partitions present in the source delta are read/merged/swapped.
    * Contract: the partition value of a key must be stable (functionally
    * determined by the business key — true for entries, whose date is
    * part of the surrogate). A key that "moved" partitions would leave
    * its old row in the untouched partition.
    */
  def upsert(spark: SparkSession, source: DataFrame, path: String,
      keys: Seq[String], versionCol: String,
      preserveOnUpdate: Seq[String] = Nil,
      partitionCols: Seq[String] = Nil): Unit = {
    // a partition parked in __bakparts by a crashed earlier swap MUST
    // come back BEFORE the target is read — recovering only inside the
    // swap (after the merge already read a target missing that
    // partition) would let the next upsert overwrite the parked
    // history with a delta-only partition and then drop the bak
    if (partitionCols.nonEmpty) {
      val (f, target) = fs(spark, path)
      restoreBakParts(f, new Path(path + "__bakparts"), target,
        partitionCols.length)
      spark.catalog.refreshByPath(path)
    }
    open(spark, path) match {
      case None =>
        overwrite(spark, firstLoad(
          OnePartition(source, OnePartition.fits(spark, 0L, source)), keys,
          versionCol, preserveOnUpdate), path, partitionCols)
      case Some((target, bytes)) if partitionCols.isEmpty =>
        overwrite(spark, merge(target, source, keys, versionCol,
          preserveOnUpdate, OnePartition.fits(spark, bytes, source)), path)
      case Some((target, bytes)) =>
        // a source-only column must land in EVERY partition's files —
        // plain (non-mergeSchema) reads take the schema from one
        // footer, so a column present only in the touched partitions
        // would silently vanish from whole-table reads. Widening is
        // rare: pay one full rewrite for it, keep pruned merges for
        // the steady state.
        val tgtNames = target.columns.map(_.toLowerCase).toSet
        val widens = source.columns
          .exists(c => !tgtNames.contains(c.toLowerCase))
        val one = OnePartition.fits(spark, bytes, source)
        if (widens)
          overwrite(spark,
            merge(target, source, keys, versionCol, preserveOnUpdate, one),
            path, partitionCols)
        else
          upsertPartitioned(spark, target, source, path, keys, versionCol,
            preserveOnUpdate, partitionCols, one)
    }
  }

  /** Partition-pruned merge: only the partitions the delta touches
    * are merged and written to `__tmp`, and only those directories are
    * swapped under the table root; untouched partitions keep their
    * exact files. Above the one-partition bound the delta's distinct
    * partition tuples are collected (small — one row per touched
    * partition) and prune the target read (static partition pruning
    * at the parquet scan). At one partition ([[OnePartition.fits]]) the
    * target is small by definition: it is read whole, and a window
    * over the partition columns in the merge's own plan drops the
    * untouched partitions, so the delta is evaluated once. */
  private def upsertPartitioned(spark: SparkSession, target: DataFrame,
      source: DataFrame, path: String, keys: Seq[String],
      versionCol: String, preserveOnUpdate: Seq[String],
      partitionCols: Seq[String], one: Boolean): Unit = {
    val merged =
      if (one)
        merge(target, source, keys, versionCol, preserveOnUpdate, one,
          touchedBy = partitionCols)
      else {
        val parts = source.select(partitionCols.map(col): _*)
          .distinct().collect()
        if (parts.isEmpty) return
        val touched: Column = parts.map { r =>
          partitionCols.zipWithIndex
            .map { case (c, i) => col(c) <=> lit(r.get(i)) }
            .reduce(_ && _)
        }.reduce(_ || _)
        merge(target.filter(touched), source, keys, versionCol,
          preserveOnUpdate)
      }

    val (f, targetP) = fs(spark, path)
    val tmp = new Path(path + "__tmp")
    merged.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*).parquet(tmp.toString)
    swapLeafPartitions(f, tmp, targetP, path, partitionCols.length)
    f.delete(tmp, true)
    spark.catalog.refreshByPath(path) // see overwrite()
  }

  /** Move every depth-`depth` partition directory of `tmp` into
    * `target`, parking the displaced target directory under
    * `<path>__bakparts/<rel>` so a crash mid-swap is recoverable (the
    * bak lives OUTSIDE the table root — a leftover would otherwise break
    * partition discovery). */
  private def swapLeafPartitions(f: FileSystem, tmp: Path, target: Path,
      path: String, depth: Int): Unit = {
    val bakRoot = new Path(path + "__bakparts")
    restoreBakParts(f, bakRoot, target, depth)
    val qTmp = f.makeQualified(tmp)
    def leaves(p: Path, d: Int): Seq[Path] =
      if (d == 0) Seq(p)
      else f.listStatus(p).toSeq.filter(_.isDirectory)
        .flatMap(s => leaves(s.getPath, d - 1))
    val rels = leaves(qTmp, depth)
      .map(_.toString.stripPrefix(qTmp.toString).stripPrefix("/"))
    for (rel <- rels) {
      val tgtPart = new Path(target, rel)
      val bakPart = new Path(bakRoot, rel)
      if (f.exists(tgtPart)) {
        f.mkdirs(bakPart.getParent)
        mv(f, tgtPart, bakPart)
      } else f.mkdirs(tgtPart.getParent)
      mv(f, new Path(qTmp, rel), tgtPart)
    }
    f.delete(bakRoot, true)
  }

  /** Crash recovery for the per-partition swap: any partition parked in
    * `__bakparts` whose target slot is empty is restored (the crash hit
    * between the two renames); completed slots mean the bak is stale. */
  private def restoreBakParts(f: FileSystem, bakRoot: Path, target: Path,
      depth: Int): Unit = {
    if (!f.exists(bakRoot)) return
    val qBak = f.makeQualified(bakRoot)
    def leaves(p: Path, d: Int): Seq[Path] =
      if (d == 0) Seq(p)
      else f.listStatus(p).toSeq.filter(_.isDirectory)
        .flatMap(s => leaves(s.getPath, d - 1))
    for (leaf <- leaves(qBak, depth)) {
      val rel = leaf.toString.stripPrefix(qBak.toString).stripPrefix("/")
      val tgtPart = new Path(target, rel)
      if (!f.exists(tgtPart)) {
        f.mkdirs(tgtPart.getParent)
        mv(f, leaf, tgtPart)
      }
    }
    f.delete(bakRoot, true)
  }

  /** Insert-ignore (K8): only keys absent from the target are added —
    * the ON CONFLICT DO NOTHING bridge-table pattern. Like [[merge]],
    * one keyed window over target keys ∪ source decides it: per key,
    * the first source row is inserted unless the target holds that
    * key. A NULL key never matches an existing row, so one row per
    * NULL key group is always inserted (what a keyed anti join after
    * a dedup inserts). Only the target's keys enter the window; its
    * rows are unioned back unchanged for the write. (A dedup + anti
    * join cannot be held at one partition: Spark's optimizer pushes a
    * left-anti join below a coalesce, so it would plan an exchange or
    * a broadcast job all the same.) */
  def insertIgnore(spark: SparkSession, source: DataFrame, path: String,
      keys: Seq[String]): Unit =
    open(spark, path) match {
      case None => overwrite(spark, OnePartition(source,
        OnePartition.fits(spark, 0L, source)).dropDuplicates(keys), path)
      case Some((target, bytes)) =>
        val all = OnePartition(source.withColumn("__is_new", lit(1))
          .unionByName(target.select(keys.map(col): _*)
            .withColumn("__is_new", lit(0)), allowMissingColumns = true),
          OnePartition.fits(spark, bytes, source))
        val w = Window.partitionBy(keys.map(col): _*)
          .orderBy(col("__is_new").desc)
        val keyed = keys.map(k => col(k).isNotNull).reduce(_ && _)
        val known = max(when(col("__is_new") === 0 && keyed, lit(true)))
          .over(w.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing))
        val cols = source.columns.toSeq.map(stored)
        val novel = all
          .select(cols :+ col("__is_new") :+ known.as("__known") :+
            row_number().over(w).as("__rn"): _*)
          .filter(col("__rn") === 1 && col("__is_new") === 1 &&
            col("__known").isNull)
          .select(cols: _*)
        // union-by-name, same evolution semantics as merge and the
        // commit-log format's insertIgnore — the TableFormat seam
        // must not drift on what an insert means: source-only columns
        // widen the table (NULL for existing rows), a narrow source
        // inserts NULLs instead of failing analysis
        overwrite(spark, target.unionByName(novel,
          allowMissingColumns = true), path)
    }

  /** Full refresh (K9): TRUNCATE+INSERT equivalent. */
  def fullRefresh(spark: SparkSession, source: DataFrame, path: String): Unit =
    overwrite(spark, source, path)

  /** Partition replace (K10): rewrite only the partitions present in
    * `source` — dynamic partition overwrite, the reference's per-year
    * TRUNCATE PARTITION + INSERT. The overwrite mode is set per-write
    * (not on the shared session conf). Constraint: `source` must not
    * derive from the table at `path` — the dynamic overwrite deletes
    * matched partitions before the read completes; use `upsert` with
    * `partitionCols` when merging against existing rows. */
  def replacePartitions(spark: SparkSession, source: DataFrame, path: String,
      partitionCol: String): Unit = {
    // same footer-consistency rule as the pruned upsert: a widening
    // source must reach EVERY partition's files or plain reads drop
    // the new column. Rare case -> one full tmp-swap rewrite (which
    // also lifts the no-self-read constraint for that pass).
    val widening = readIfExists(spark, path).filter { target =>
      val tgtNames = target.columns.map(_.toLowerCase).toSet
      source.columns.exists(c => !tgtNames.contains(c.toLowerCase))
    }
    widening match {
      case Some(target) =>
        val kept = target.join(
          source.select(col(partitionCol)).distinct(),
          Seq(partitionCol), "left_anti")
        overwrite(spark,
          source.unionByName(kept, allowMissingColumns = true), path,
          Seq(partitionCol))
      case None =>
        source.write.mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(partitionCol)
          .parquet(path)
        spark.catalog.refreshByPath(path) // see overwrite()
    }
  }
}
