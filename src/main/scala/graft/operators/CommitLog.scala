package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{aggregate, array, coalesce, col, floor, greatest, input_file_name, least, lit, max, min, raise_error, shiftleft, shiftright, when}

/** Minimal transactional commit log over plain parquet — the
  * Delta-shaped third [[TableFormat]] binding, with no jars beyond
  * Spark itself.
  *
  * Layout under the table root:
  * {{{
  *   _log/00000000000000000001.json   // manifest: files of version 1
  *   _log/00000000000000000002.json
  *   data/v2-<uuid>/part-*.parquet    // immutable data files
  * }}}
  *
  * A manifest lists EVERY data file of its snapshot (full manifests,
  * not deltas — O(files) and self-contained). Data files are immutable
  * and never renamed; a commit is exactly one atomic rename of a fully
  * written temp manifest into `_log/<version>.json`. Readers resolve
  * the highest version present and read only its listed files, so:
  *
  *  - a crash while WRITING data files leaves orphan files no manifest
  *    references — readers still see the previous snapshot whole;
  *  - a crash between data write and manifest rename: same;
  *  - multi-partition changes (the swap emulation's weak spot — its
  *    per-partition renames expose mixed states mid-swap) commit
  *    atomically, because visibility IS the manifest.
  *
  * Concurrent writers are handled with optimistic concurrency: every
  * mutation re-reads the current version, computes its snapshot
  * against it, and publishes version+1 with an EXCLUSIVE create — on
  * HDFS-semantics filesystems a rename that fails when the target
  * exists, on the local filesystem an atomic hard-link (O(1),
  * link(2) fails with EEXIST — no check-then-act window, unlike a
  * POSIX rename, which silently overwrites). A writer that loses the
  * race gets [[CommitConflictException]], re-reads the winner's
  * snapshot, recomputes, and retries — so two concurrent `upsert`s
  * both land, serialized as consecutive versions. Old versions stay
  * readable until a [[vacuum]] whose retention window (`keepLast`)
  * excludes them removes their manifests and unreferenced data.
  *
  * MERGE semantics are [[MergeOps.merge]]/[[MergeOps.firstLoad]] — a
  * format binding chooses storage, never meaning. Data files carry
  * partition columns as plain columns (no hive layout): snapshot reads
  * prune by parquet row-group stats instead of directory names; a
  * production binding would add per-file min/max to the manifest.
  */
/** A concurrent writer committed this version first. The caller's
  * snapshot was computed against a stale base — retry means re-read,
  * recompute, re-commit (what [[CommitLogTableFormat]]'s mutators do
  * internally, bounded by `graft.commitlog.maxRetries`). */
final class CommitConflictException(msg: String)
  extends java.io.IOException(msg)

/** The requested snapshot version is not readable at this table —
  * either it never committed or [[CommitLogTableFormat.vacuum]]
  * reclaimed it. Typed so a caller holding a version number (a
  * training-run manifest, an export job) can distinguish "gone by
  * retention policy" from an I/O fault and react (re-pin to a
  * retained version) instead of crashing on a missing file. */
final class SnapshotNotFoundException(msg: String)
  extends java.util.NoSuchElementException(msg)

object CommitLogTableFormat extends TableFormat {

  /** Retries per mutation after a lost commit race. Each retry does a
    * full re-read + recompute, so contention cost is per-writer work,
    * never corruption; past the bound the conflict surfaces. */
  private val MaxRetries = 5

  private def fs(spark: SparkSession, path: String) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def logDir(root: Path) = new Path(root, "_log")

  private[graft] def manifestPath(root: Path, version: Long) =
    new Path(logDir(root), f"$version%020d.json")

  /** Highest committed version, or None. Only fully committed
    * manifests exist under their final name (rename is atomic), so
    * listing is resolution; `.tmp-*` leftovers are ignored. */
  private def listVersions(f: FileSystem, root: Path): Seq[Long] = {
    val dir = logDir(root)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .filter(_.endsWith(".json"))
      .flatMap(n => scala.util.Try(n.stripSuffix(".json").toLong).toOption)
      .sorted
  }

  private[graft] def currentVersion(f: FileSystem,
      root: Path): Option[Long] = listVersions(f, root).lastOption

  /** Raw manifest lines (path + optional stats suffix). */
  private def readManifestLines(f: FileSystem, root: Path,
      version: Long): Seq[String] = {
    val mp = manifestPath(root, version)
    val buf = new Array[Byte](f.getFileStatus(mp).getLen.toInt)
    val in = f.open(mp)
    try in.readFully(0, buf) finally in.close()
    val text = new String(buf, java.nio.charset.StandardCharsets.UTF_8)
    // one relative path per line after the header line — no JSON
    // library needed to parse it back
    text.linesIterator.drop(1).filter(_.nonEmpty).toSeq
  }

  /** Data-file relative paths of a manifest; per-file stats suffixes
    * (tab-separated, see [[statsSuffix]]) are stripped so every
    * reader/vacuum path resolves files identically whether or not the
    * committing writer recorded stats. */
  private[graft] def readManifest(f: FileSystem, root: Path,
      version: Long): Seq[String] =
    readManifestLines(f, root, version).map(_.split('\t').head)

  /** Per-file numeric column ranges recorded in a manifest:
    * (relPath, col -> (min, max)); files committed without stats map
    * to an empty map — [[scanPruned]] always keeps those. */
  private[graft] def readManifestStats(f: FileSystem, root: Path,
      version: Long): Seq[(String, Map[String, (Double, Double)])] =
    readManifestLines(f, root, version).map { line =>
      val parts = line.split('\t')
      val stats = parts.drop(1).flatMap { kv =>
        // col=min..max — written by statsSuffix, numeric only
        kv.split("=", 2) match {
          case Array(c, range) => range.split("\\.\\.", 2) match {
            case Array(lo, hi) =>
              (scala.util.Try(lo.toDouble).toOption,
                scala.util.Try(hi.toDouble).toOption) match {
                case (Some(l), Some(h)) => Some(c -> ((l, h)))
                case _ => None
              }
            case _ => None
          }
          case _ => None
        }
      }.toMap
      (parts.head, stats)
    }

  /** One extra pass over the just-written (OS-cache-hot) data dir:
    * per-file min/max of the requested numeric columns, encoded as
    * the manifest stats suffix `\tcol=min..max...` per file. Files
    * where a column is all-null or carries NaN get no entry for it
    * (conservatively unprunable), and column names carrying tab or
    * `=` characters are rejected rather than mis-parsed later (`..`
    * inside a name is safe: the `=` split runs first). */
  private def withStatsSuffixes(spark: SparkSession, root: Path,
      rels: Seq[String], cols: Seq[String]): Seq[String] = {
    if (cols.isEmpty || rels.isEmpty) return rels
    cols.foreach(c => require(!c.exists("\t=".contains(_)),
      s"stats column name '$c' would corrupt the manifest encoding"))
    val aggs = cols.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"__mn_$c"),
      max(col(c).cast("double")).as(s"__mx_$c")))
    // keyed by file NAME: one commit writes one uuid dir, so part
    // file names are unique within it and the match is O(files), not
    // a quadratic suffix scan
    val byName = spark.read
      .parquet(rels.map(r => new Path(root, r).toString): _*)
      .groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map(r => r.getString(0).substring(
        r.getString(0).lastIndexOf('/') + 1) -> r).toMap
    rels.map { rel =>
      byName.get(rel.substring(rel.lastIndexOf('/') + 1)) match {
        case None => rel // 0-row file never appears in the agg
        case Some(r) =>
          val suffix = cols.zipWithIndex.flatMap { case (c, i) =>
            // all-null and NaN ranges get NO stats entry: NaN compares
            // false to everything, which would make scanPruned drop
            // files that hold in-range rows — conservative beats wrong
            if (r.isNullAt(1 + 2 * i) || r.isNullAt(2 + 2 * i)) None
            else {
              val mn = r.getDouble(1 + 2 * i)
              val mx = r.getDouble(2 + 2 * i)
              if (mn.isNaN || mx.isNaN) None
              else Some(s"$c=$mn..$mx")
            }
          }
          (rel +: suffix).mkString("\t")
      }
    }
  }

  /** Write the new snapshot's data files under `data/v<version>-<uuid>`
    * and return their table-root-relative paths. Crash at any point in
    * here leaves unreferenced files only. */
  private[graft] def writeDataFiles(spark: SparkSession,
      df: DataFrame, root: Path, version: Long): Seq[String] = {
    val (f, _) = fs(spark, root.toString)
    val rel = s"data/v$version-${java.util.UUID.randomUUID()}"
    val dir = new Path(root, rel)
    df.write.mode(SaveMode.ErrorIfExists).parquet(dir.toString)
    val files = f.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .filter(n => n.endsWith(".parquet"))
      .map(n => s"$rel/$n")
    if (files.nonEmpty) files
    else {
      // a 0-task write leaves no part files; a manifest must still
      // carry the snapshot SCHEMA, so force one schema-only file
      df.limit(0).repartition(1).write.mode(SaveMode.Overwrite)
        .parquet(dir.toString)
      f.listStatus(dir).toSeq.map(_.getPath.getName)
        .filter(_.endsWith(".parquet")).map(n => s"$rel/$n")
    }
  }

  /** Atomically publish `files` as `version`: temp write (fully
    * synced) + one EXCLUSIVE link/rename — the commit point. Two
    * writers racing to the same version: exactly one wins, the loser
    * gets [[CommitConflictException]].
    *
    * Filesystem note: HDFS rename fails when the destination exists,
    * so rename IS the exclusive primitive there. POSIX rename
    * OVERWRITES an existing target — an exists() pre-check would be
    * TOCTOU — so on `file:` filesystems the commit is an atomic hard
    * link instead (link(2) fails with EEXIST, kernel-enforced). */
  private[graft] def commitManifest(spark: SparkSession, root: Path,
      version: Long, files: Seq[String]): Unit = {
    val (f, _) = fs(spark, root.toString)
    f.mkdirs(logDir(root))
    val tmp = new Path(logDir(root),
      s".tmp-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, false)
    try {
      out.write((s"version=$version\n" + files.mkString("\n") + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out.hsync()
    } finally out.close()
    val target = manifestPath(root, version)
    def conflict() = {
      f.delete(tmp, false)
      throw new CommitConflictException(
        s"commit of version $version at $root lost a race")
    }
    if ("file" == f.getScheme) {
      val toNio = (p: Path) => java.nio.file.Paths.get(
        f.makeQualified(p).toUri.getPath)
      try java.nio.file.Files.createLink(toNio(target), toNio(tmp))
      catch { case _: java.nio.file.FileAlreadyExistsException =>
        conflict()
      }
      f.delete(tmp, false)
    } else if (f.exists(target) || !f.rename(tmp, target)) conflict()
    spark.catalog.refreshByPath(root.toString)
  }

  /** Optimistic-concurrency mutation loop: read the current version,
    * compute the new snapshot AGAINST THAT VERSION (readAt, not read —
    * a commit landing mid-compute must not leak into this snapshot),
    * write data files, try to commit base+1. A lost race discards the
    * attempt (its data dir is unreferenced; vacuum reclaims it) and
    * recomputes from the winner's snapshot, so concurrent upserts
    * serialize instead of lost-updating each other. */
  private def commitWith(spark: SparkSession, path: String,
      statsCols: Seq[String] = Nil)(
      compute: Option[DataFrame] => DataFrame): Unit = {
    val (f, root) = fs(spark, path)
    var attempt = 0
    var done = false
    while (!done) {
      val base = currentVersion(f, root)
      val snapshot = compute(base.flatMap(v => readAt(spark, path, v)))
      val version = base.getOrElse(0L) + 1L
      val files = writeDataFiles(spark, snapshot, root, version)
      val lines = withStatsSuffixes(spark, root, files,
        statsCols.filter(snapshot.columns.contains))
      try { commitManifest(spark, root, version, lines); done = true }
      catch { case e: CommitConflictException =>
        attempt += 1
        if (attempt > MaxRetries) throw e
      }
    }
  }

  def exists(spark: SparkSession, path: String): Boolean = {
    val (f, root) = fs(spark, path)
    currentVersion(f, root).isDefined
  }

  def read(spark: SparkSession, path: String): Option[DataFrame] = {
    val (f, root) = fs(spark, path)
    currentVersion(f, root).map { v =>
      val files = readManifest(f, root, v)
        .map(rel => new Path(root, rel).toString)
      spark.read.parquet(files: _*)
    }
  }

  /** All committed snapshot versions, ascending. Immutable data files
    * plus full-manifest commits mean every listed version is readable
    * with [[readAt]] until [[vacuum]] reclaims it. */
  def versions(spark: SparkSession, path: String): Seq[Long] = {
    val (f, root) = fs(spark, path)
    listVersions(f, root)
  }

  /** Commit history: (version, commit_ts_millis) ascending. The
    * commit instant is the manifest file's modification time. On
    * `file:` hard-link publish and HDFS rename the mtime is set when
    * the manifest CONTENT was written (the link/rename that makes it
    * visible preserves it), so the timestamp LOWER-bounds visibility
    * by the write→publish latency — the same caveat Delta's
    * timestampAsOf carries for its commit files; a reader at exactly
    * that instant may not yet have seen the version. Vacuumed
    * versions drop out of the history with their manifests — mtimes
    * come from the ONE directory listing (not a per-version
    * getFileStatus), so a concurrent vacuum yields a shorter history,
    * never a FileNotFoundException mid-walk.
    *
    * Timestamps are MONOTONIZED in version order (running max — the
    * same guard Delta applies to its commit files): writer clock skew
    * or object-store mtime semantics can hand a LATER version an
    * EARLIER raw mtime, and without the running max [[readAsOf]]
    * would silently skip a qualifying earlier version or surface a
    * later one. With it, history timestamps are non-decreasing by
    * construction, so timestamp resolution is stable whatever the
    * file times say. */
  def versionHistory(spark: SparkSession,
      path: String): Seq[(Long, Long)] = {
    val (f, root) = fs(spark, path)
    val dir = logDir(root)
    val raw =
      if (!f.exists(dir)) Seq.empty
      else f.listStatus(dir).toSeq
        .filter(_.getPath.getName.endsWith(".json"))
        .flatMap(st => scala.util.Try(
          st.getPath.getName.stripSuffix(".json").toLong).toOption
          .map(_ -> st.getModificationTime))
        .sortBy(_._1)
    var runningMax = Long.MinValue
    raw.map { case (v, ts) =>
      runningMax = math.max(runningMax, ts)
      (v, runningMax)
    }
  }

  /** Time travel by TIMESTAMP (the Delta `timestampAsOf` contract):
    * the latest snapshot whose commit timestamp (see
    * [[versionHistory]], incl. its write-vs-publish caveat) is at or
    * before `tsMillis`; None when the table had no committed version
    * yet at that instant (or the qualifying versions were all
    * vacuumed). Ties (a timestamp exactly equal to `tsMillis`) are
    * INCLUDED. */
  def readAsOf(spark: SparkSession, path: String,
      tsMillis: Long): Option[DataFrame] =
    // history is version-ascending and its timestamps non-decreasing
    // BY CONSTRUCTION (versionHistory monotonizes raw mtimes), so the
    // last qualifying entry IS the latest version even under writer
    // clock skew / out-of-order file mtimes
    versionHistory(spark, path)
      .filter(_._2 <= tsMillis).map(_._1).lastOption
      .flatMap(v => readAt(spark, path, v))

  /** Time travel: the snapshot exactly as committed at `version`, or
    * None if that version never existed or was vacuumed. Reproducing
    * "the corpus a model was trained on" is a first-class need of a
    * training-data pipeline — a manifest is that reproducibility
    * token. */
  def readAt(spark: SparkSession, path: String,
      version: Long): Option[DataFrame] = {
    val (f, root) = fs(spark, path)
    if (!f.exists(manifestPath(root, version))) None
    else Some {
      val files = readManifest(f, root, version)
        .map(rel => new Path(root, rel).toString)
      spark.read.parquet(files: _*)
    }
  }

  /** Export the snapshot committed at `version` as PLAIN parquet under
    * `outPath` — no `_log`, no manifest, just part files any external
    * engine (DuckDB, a BI tool, pandas) can scan directly. The
    * engine-internal [[readAt]] answers "what was version v"; this is
    * the interop half of that contract: the reference's BI layer reads
    * the core tables straight off storage (README.md:115), and a
    * commit-log table must offer the same door. Optional
    * `partitionCols` emits a hive-partitioned layout for engines that
    * prune by directory. Overwrites `outPath` (an export is a derived
    * artifact, re-derivable from the manifest at any time). */
  def exportSnapshot(spark: SparkSession, path: String, version: Long,
      outPath: String, partitionCols: Seq[String] = Nil): Unit = {
    val df = readAt(spark, path, version).getOrElse(
      throw new SnapshotNotFoundException(
        s"exportSnapshot: version $version at $path never committed " +
          "or was vacuumed past the retention window"))
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(outPath)
  }

  def upsert(spark: SparkSession, source: DataFrame, path: String,
      keys: Seq[String], versionCol: String,
      preserveOnUpdate: Seq[String], partitionCols: Seq[String]): Unit = {
    // partitionCols hints physical pruning, which the manifest binding
    // answers with row-group stats — semantics are identical either way
    commitWith(spark, path) {
      case None =>
        MergeOps.firstLoad(source, keys, versionCol, preserveOnUpdate)
      case Some(target) =>
        MergeOps.merge(target, source, keys, versionCol, preserveOnUpdate)
    }
  }

  /** Apply a CDC changeset — inserts, updates, AND deletes in one
    * commit (the `MERGE ... WHEN MATCHED AND op = 'D' THEN DELETE`
    * shape, which [[upsert]] alone cannot express): rows of `source`
    * whose `opCol` equals `deleteOp` remove the target row for their
    * key, everything else upserts through the usual merge. One
    * surviving operation per key is resolved INSIDE the changeset
    * first (latest by `versionCol` — a delete followed by a
    * re-insert at a higher version lands as the re-insert), and the
    * stale-change rule is uniform: an update OR delete older than
    * the target's current version for that key is ignored, so
    * replaying yesterday's changeset over today's table is a no-op,
    * not a regression. Deletes of absent keys are no-ops. A target
    * row with a NULL version loses to ANY change — delete or update
    * alike — mirroring keepLatest's descending null ordering, so the
    * two mutation kinds can never disagree about a versionless row.
    *
    * Scale shape: same cost class as [[upsert]] — the changeset
    * resolves with one keyed window, the merge is the existing
    * key-shuffle, and deletes apply as a keyed left join; nothing
    * driver-side. */
  def applyCdc(spark: SparkSession, source: DataFrame, path: String,
      keys: Seq[String], opCol: String, versionCol: String,
      deleteOp: String = "D"): Unit = {
    commitWith(spark, path) { base =>
      // A NULL op evaluates to NULL in both the upsert and the delete
      // filter and would be silently discarded — neither applied nor
      // rejected — hiding a malformed CDC feed. Fail fast WITHOUT an
      // extra scan: the guard rides the op projection itself
      // (raise_error fires executor-side on the first NULL op the
      // merge pass evaluates; a separate count() action would read
      // the whole changeset twice on every healthy call).
      val checked = source.withColumn(opCol,
        when(col(opCol).isNotNull, col(opCol)).otherwise(raise_error(
          lit(s"applyCdc: changeset contains rows with NULL '$opCol'" +
            " — every change must carry an explicit operation"))))
      val latest = Dedup.keepLatest(checked, keys, Seq(col(versionCol)))
      val upserts = latest.filter(col(opCol) =!= deleteOp).drop(opCol)
      base match {
        case None => upserts
        case Some(target) =>
          val deletes = latest.filter(col(opCol) === deleteOp)
            .select((keys.map(col) :+
              col(versionCol).as("__del_ver")): _*)
          MergeOps.merge(target, upserts, keys, versionCol, Nil)
            .join(deletes, keys, "left")
            .filter(col("__del_ver").isNull ||
              col("__del_ver") < col(versionCol))
            .drop("__del_ver")
      }
    }
  }

  /** Insert rows whose key is absent; existing keys are untouched.
    * Schema evolves the same way [[upsert]]'s merge does: source-only
    * columns widen the table (NULL for existing rows), and a source
    * missing target columns inserts NULLs there — a narrow batch can
    * never error out or null-out history. */
  def insertIgnore(spark: SparkSession, source: DataFrame, path: String,
      keys: Seq[String]): Unit = {
    commitWith(spark, path) {
      case None => source.dropDuplicates(keys)
      case Some(target) =>
        target.unionByName(
          source.dropDuplicates(keys)
            .join(target.select(keys.map(col): _*).distinct(), keys,
              "left_anti"),
          allowMissingColumns = true)
    }
  }

  def fullRefresh(spark: SparkSession, source: DataFrame,
      path: String): Unit =
    commitWith(spark, path)(_ => source)

  def replacePartitions(spark: SparkSession, source: DataFrame,
      path: String, partitionCol: String): Unit = {
    commitWith(spark, path) {
      case None => source
      case Some(target) =>
        source.unionByName(
          target.join(source.select(col(partitionCol)).distinct(),
            Seq(partitionCol), "left_anti"),
          allowMissingColumns = true)
    }
  }

  /** Row-level diff between two committed snapshots: rows only in
    * `toVersion` come back tagged `added`, rows only in `fromVersion`
    * tagged `removed` — MULTISET semantics (exceptAll), so a
    * duplicate row going from 3 copies to 1 surfaces as 2 removals
    * instead of vanishing in a set compare. The audit face of time
    * travel: "what exactly changed between the corpus a model trained
    * on and today's" is one call, no extra bookkeeping — full
    * manifests make any two retained versions comparable after the
    * fact. Both sides raise the typed [[SnapshotNotFoundException]]
    * for vacuumed/never-committed versions.
    *
    * Scale shape: exceptAll hash-aggregates per-row counts — one
    * shuffle each side on the full row as key, the same cost class as
    * the t01 exact-dedup pass; no driver-side state. */
  def diffSnapshots(spark: SparkSession, path: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    def at(v: Long) = readAt(spark, path, v).getOrElse(
      throw new SnapshotNotFoundException(
        s"diffSnapshots: version $v at $path never committed or was " +
          "vacuumed past the retention window"))
    val a = at(fromVersion)
    val b = at(toVersion)
    b.exceptAll(a).withColumn("change", lit("added"))
      .unionByName(a.exceptAll(b).withColumn("change", lit("removed")))
  }

  /** CHANGE DATA FEED: [[diffSnapshots]] at per-commit granularity —
    * one `added`/`removed` row stream for every commit boundary in
    * `(fromVersion, toVersion]`, each tagged `commit_version`. This
    * is the incremental-consumer contract a table format owes its
    * downstream (Delta's CDF shape): "give me exactly what changed,
    * commit by commit, since the version I last processed", without
    * the consumer diffing snapshots itself or conflating two
    * commits' changes into one net diff (a row added in v2 and
    * removed in v3 nets to nothing in diffSnapshots(1, 3) but is
    * two events here — replay-style consumers need the events).
    *
    * Scale shape: one bounded driver loop over COMMITS (metadata,
    * not data), each boundary the exceptAll pair of [[diffSnapshots]]
    * on lazy snapshot reads; the union tree is #boundaries wide.
    * Consumers resuming from a checkpoint call this with
    * `fromVersion` = last processed — O(delta commits), never
    * O(table history). `fromVersion` = 0 means "since table
    * creation": the (0, 1] boundary has no predecessor snapshot, so
    * v1's rows all surface as `added`. Raises
    * [[SnapshotNotFoundException]] if any needed version left the
    * retention window. */
  def changeFeed(spark: SparkSession, path: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    require(toVersion > fromVersion,
      s"changeFeed: need toVersion > fromVersion, got " +
        s"($fromVersion, $toVersion]")
    ((fromVersion + 1) to toVersion).map { v =>
      val d =
        if (v == 1L) // genesis boundary: version 0 never exists
          readAt(spark, path, 1L).getOrElse(
            throw new SnapshotNotFoundException(
              s"changeFeed: version 1 at $path never committed or " +
                "was vacuumed past the retention window"))
            .withColumn("change", lit("added"))
        else diffSnapshots(spark, path, v - 1, v)
      d.withColumn("commit_version", lit(v))
    }.reduce(_ unionByName _)
  }

  /** Incremental TAIL over [[changeFeed]]: process every commit made
    * since the last call, exactly once per successfully-processed
    * checkpoint. The checkpoint is one number (last processed
    * version) committed via the same atomic-rename/link discipline
    * as the table's own manifests — written AFTER `process` returns,
    * so a crash mid-process replays that version's changes (at-least-
    * once, the standard streaming-sink contract; pair with an
    * idempotent process like [[upsert]]). Returns the number of
    * commits processed (0 = caught up). */
  def tailChangeFeed(spark: SparkSession, path: String,
      checkpointPath: String)(
      process: (DataFrame, Long) => Unit): Int = {
    val (f, root) = fs(spark, path)
    val cur = currentVersion(f, root).getOrElse(return 0)
    val cpPath = new Path(checkpointPath)
    val cpFs = cpPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val last: Long =
      if (cpFs.exists(cpPath)) {
        val in = cpFs.open(cpPath)
        try scala.io.Source.fromInputStream(in, "UTF-8")
          .mkString.trim.toLong
        finally in.close()
      } else 0L
    var processed = 0
    for (v <- (last + 1) to cur) {
      process(changeFeed(spark, path, v - 1, v), v)
      // checkpoint AFTER the processor returns: crash -> replay v
      val tmp = new Path(cpPath.getParent,
        s".${cpPath.getName}.tmp-$v")
      val out = cpFs.create(tmp, true)
      try out.write(v.toString.getBytes("UTF-8")) finally out.close()
      if (!cpFs.rename(tmp, cpPath)) {
        cpFs.delete(cpPath, false)
        if (!cpFs.rename(tmp, cpPath))
          throw new java.io.IOException(
            s"tailChangeFeed: cannot commit checkpoint $cpPath")
      }
      processed += 1
    }
    processed
  }

  /** What [[optimize]] did: `filesBefore` data files totalling
    * `bytesBefore` were rewritten as `filesAfter` files committed at
    * `version`. The rewrite is layout-only — row content is
    * bit-identical (the t87 gate hash-proves it cross-engine). */
  final case class OptimizeStats(version: Long, filesBefore: Int,
    filesAfter: Int, bytesBefore: Long)

  /** Z-order curve value: each column range-scales to a `bits`-wide
    * integer bucket — floor((x − min)·(2^bits−1)/(max − min)),
    * clamped, nulls to 0 — and the bucket bits interleave (bit i of
    * column j lands at position i·k + (k−1−j), so column 0 owns the
    * most significant bit of every group). Pure builtin
    * shift/and/add expressions: whole-stage codegen'd, and exactly
    * replayable by an external engine (the t87 oracle rederives every
    * z value in DuckDB, IEEE-identical scaling included).
    *
    * Equi-width scaling keeps the arithmetic externally replayable;
    * heavily skewed dimensions would prefer quantile boundaries
    * (range-bucket ids) at the cost of that replayability — at 100 TB
    * pick per column, the interleave is unchanged. */
  def zValue(cols: Seq[Column], mins: Seq[Double], maxs: Seq[Double],
      bits: Int = 16): Column = {
    val maxBucket = (1L << bits) - 1
    val buckets = cols.zipWithIndex.map { case (c, i) =>
      val span = maxs(i) - mins(i)
      val scaled =
        if (span > 0)
          least(lit(maxBucket), greatest(lit(0L),
            floor((c.cast("double") - mins(i)) * maxBucket.toDouble / span)
              .cast("long")))
        else lit(0L)
      coalesce(scaled, lit(0L))
    }
    interleave(buckets, bits)
  }

  /** The Morton bit interleave over already-computed bucket columns:
    * bit i of column j lands at position i·k + (k−1−j). Shared by
    * [[zValue]] (equi-width buckets) and [[zRankValue]] (quantile
    * buckets); pure builtin shift/and/add, whole-stage codegen'd. */
  private def interleave(buckets: Seq[Column], bits: Int): Column = {
    val k = buckets.size
    require(k >= 1, "interleave needs at least one column")
    require(k * bits <= 62, s"$k cols x $bits bits exceeds a signed long")
    val terms = for {
      (b, j) <- buckets.zipWithIndex
      i <- 0 until bits
    } yield shiftleft(shiftright(b, i).bitwiseAND(lit(1L)),
      i * k + (k - 1 - j))
    terms.reduce(_ + _)
  }

  /** RANK-bucketed z-value — the skew-proof sibling of [[zValue]]:
    * each column's bucket is the count of its quantile `boundaries`
    * at or below the value (a builtin `aggregate` fold over the
    * broadcast-literal boundary array), so one outlier cannot
    * collapse the bulk of a dimension into bucket 0 the way
    * equi-width min/max scaling does. Boundaries come from a sampled
    * quantile pass (bounded driver data: ≤ 2^bits − 1 doubles per
    * column); nulls bucket to 0. The price of skew-proofing is
    * external replayability — approxQuantile is engine-specific, so
    * rank-z-ordered layouts are gated by span-collapse measurement
    * (OptimizeSpec), not a DuckDB oracle; [[scanPruned]] correctness
    * is unaffected either way (stats record true per-file min/max). */
  def zRankValue(cols: Seq[Column], boundaries: Seq[Array[Double]],
      bits: Int = 8): Column = {
    require(cols.size == boundaries.size, "one boundary set per column")
    val buckets = cols.zip(boundaries).map { case (c, bs) =>
      require(bs.length <= (1 << bits) - 1,
        s"${bs.length} boundaries exceed $bits-bit buckets")
      val arr = array(bs.map(lit(_)): _*)
      coalesce(aggregate(arr, lit(0L),
        (acc, b) => acc + when(c.cast("double") >= b, 1L).otherwise(0L)),
        lit(0L))
    }
    interleave(buckets, bits)
  }

  /** Rewrite the CURRENT snapshot's layout — content unchanged — and
    * commit it as the next version: the OPTIMIZE of this table
    * format, and the operation that keeps a 100 TB table readable
    * after months of incremental upserts have shredded it into
    * millions of small files.
    *
    *  - Bin-pack: the new snapshot targets
    *    ceil(liveBytes / targetFileBytes) files (even sizes via a
    *    full shuffle — at real scale the shuffle is the price of
    *    never paying per-file open latency again on every read).
    *  - Optional Z-ORDER: rows sort by [[zValue]] over `zorderBy`,
    *    range-partitioned on it (sampled boundaries, skew-robust), so
    *    parquet row-group min/max stats become tight boxes on EVERY
    *    listed dimension at once — a filter on any of them prunes
    *    row groups AND whole files (OptimizeSpec measures the
    *    per-file span collapse).
    *
    * Runs through the same optimistic commit loop as every mutator:
    * a concurrent upsert that wins the race makes optimize recompute
    * against the winner's snapshot (never lost-updates it), and time
    * travel to pre-optimize versions keeps working until [[vacuum]]
    * reclaims them — which is also how the rewrite's disk debt
    * (old + new copies) is paid back. */
  def optimize(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L << 20, zorderBy: Seq[String] = Nil,
      zBits: Int = 0, statsColumns: Seq[String] = Nil,
      zorderStrategy: String = "width"): OptimizeStats = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    require(zorderStrategy == "width" || zorderStrategy == "rank",
      s"unknown zorderStrategy '$zorderStrategy' (width|rank)")
    require(zBits >= 0 && zBits <= 20,
      s"zBits must be 0 (strategy default) or in [1, 20], got $zBits")
    // zBits = 0 → strategy default: 16 for width (cheap min/max
    // scaling), 8 for rank (each extra bit doubles the quantile set
    // AND the per-row boundary fold)
    val bits = if (zBits == 0) (if (zorderStrategy == "rank") 8 else 16)
      else zBits
    require(zorderStrategy == "width" || bits <= 12,
      "rank strategy computes 2^bits - 1 quantiles per column; use " +
        s"zBits <= 12 (got $bits) — 8 is the default")
    val (f, root) = fs(spark, path)
    var stats: OptimizeStats = null
    // the rewrite that clusters on a column is the moment to record
    // its per-file ranges — that is what makes the clustering PAY on
    // reads (scanPruned skips whole files by manifest stats)
    commitWith(spark, path, (zorderBy ++ statsColumns).distinct) {
      case None => throw new SnapshotNotFoundException(
        s"optimize: no committed table at $path")
      case Some(df) =>
        val base = currentVersion(f, root).get
        val files = readManifest(f, root, base)
        val bytes = files.map(rel =>
          f.getFileStatus(new Path(root, rel)).getLen).sum
        val nFiles =
          math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
        stats = OptimizeStats(base + 1, files.size, nFiles, bytes)
        // filesAfter is corrected to the COMMITTED count after the
        // loop — repartitionByRange can emit fewer partitions than
        // requested when z boundaries collapse (near-constant dims)
        if (zorderBy.isEmpty) df.repartition(nFiles)
        else {
          val z =
            if (zorderStrategy == "rank") {
              // skew-proof: quantile boundaries per dimension (one
              // sampled pass; ≤ 2^bits − 1 doubles/col on the driver).
              // eps must resolve adjacent boundaries (spacing 1/2^bits)
              // or the extra bits buy no resolution — GK rank error
              // at a quarter of the bucket spacing keeps them distinct
              val eps = math.min(0.001, 1.0 / ((1 << bits) * 4.0))
              val probs = (1 until (1 << bits))
                .map(_.toDouble / (1 << bits)).toArray
              val doubled = df.select(zorderBy.map(c =>
                col(c).cast("double").as(c)): _*)
              val bounds = doubled.stat
                .approxQuantile(zorderBy.toArray, probs, eps)
              zRankValue(zorderBy.map(col), bounds.toSeq, bits)
            } else {
              // per-dimension bounds: one bounded-driver agg row
              val aggs = zorderBy.flatMap(c => Seq(
                min(col(c).cast("double")), max(col(c).cast("double"))))
              val row = df.agg(aggs.head, aggs.tail: _*).head()
              val mins = zorderBy.indices.map(i =>
                if (row.isNullAt(2 * i)) 0d else row.getDouble(2 * i))
              val maxs = zorderBy.indices.map(i =>
                if (row.isNullAt(2 * i + 1)) 0d else row.getDouble(2 * i + 1))
              zValue(zorderBy.map(col), mins, maxs, bits)
            }
          df.withColumn("_graft_z", z)
            .repartitionByRange(nFiles, col("_graft_z"))
            .sortWithinPartitions("_graft_z")
            .drop("_graft_z")
        }
    }
    stats.copy(filesAfter =
      readManifest(f, root, stats.version).size)
  }

  /** [[optimize]] behind a file-count trigger: rewrite only when the
    * current snapshot holds more than `maxFiles` data files, else do
    * nothing (None — no new version, no write amplification). The
    * auto-compaction shape a streaming ingest loop calls after every
    * committed micro-batch: O(1) manifest listing when healthy, one
    * amortized rewrite when the small-file debt crosses the line. */
  def optimizeIfNeeded(spark: SparkSession, path: String,
      maxFiles: Int, targetFileBytes: Long = 128L << 20,
      zorderBy: Seq[String] = Nil, zBits: Int = 0,
      statsColumns: Seq[String] = Nil,
      zorderStrategy: String = "width"): Option[OptimizeStats] = {
    require(maxFiles >= 1, s"maxFiles must be >= 1, got $maxFiles")
    val (f, root) = fs(spark, path)
    val needed = currentVersion(f, root)
      .exists(v => readManifest(f, root, v).size > maxFiles)
    if (!needed) None
    else Some(optimize(spark, path, targetFileBytes, zorderBy, zBits,
      statsColumns, zorderStrategy))
  }

  /** Range scan with MANIFEST-level data skipping: files whose
    * recorded [min, max] for `column` cannot intersect [lo, hi] are
    * never opened — the read-side payoff of [[optimize]]'s Z-order +
    * stats recording, and the piece that turns "tight row-group
    * boxes" into "whole files skipped before the scan starts". On a
    * 100 TB table a selective range touches a handful of files
    * instead of every footer.
    *
    * Semantics are exactly `read(path).filter(lo <= column <= hi)`:
    * files without stats for `column` (older writers, all-null files)
    * are conservatively kept, and the residual filter still applies
    * to every surviving row — pruning is a plan optimization, never a
    * meaning change (the t91 oracle hash-proves it; OptimizeSpec
    * measures the files actually skipped). */
  def scanPruned(spark: SparkSession, path: String, column: String,
      lo: Double, hi: Double, version: Option[Long] = None): DataFrame = {
    require(lo <= hi, s"empty range [$lo, $hi]")
    val (f, root) = fs(spark, path)
    val v = version.orElse(currentVersion(f, root)).getOrElse(
      throw new SnapshotNotFoundException(
        s"scanPruned: no committed table at $path"))
    if (!f.exists(manifestPath(root, v)))
      throw new SnapshotNotFoundException(
        s"scanPruned: version $v at $path never committed or was vacuumed")
    val entries = readManifestStats(f, root, v)
    val kept = entries.collect {
      // negated comparisons: a NaN bound (hand-edited manifest) makes
      // both `<` tests false, so the file is KEPT — prune only on a
      // provable non-intersection
      case (rel, st) if st.get(column).forall {
        case (mn, mx) => !(mx < lo) && !(mn > hi)
      } => new Path(root, rel).toString
    }
    // Residual predicate TYPED TO THE COLUMN (r13): comparing an
    // integral column against double bounds makes Catalyst cast the
    // COLUMN to double, and a cast-wrapped column never reaches
    // PushedFilters — the t91 plan showed only IsNotNull pushed, so
    // every kept file was scanned in full and filtered in Spark. With
    // integral bounds (ceil/floor — identical row set: an integral x
    // satisfies lo <= x <= hi iff ceil(lo) <= x <= floor(hi)) the
    // range lands in the parquet scan and row-group/page stats prune
    // WITHIN the kept files too (§6) — the file-level manifest skip
    // above plus footer-level skip below, same rows out.
    def pred(df: DataFrame): Column =
      df.schema(column).dataType match {
        case org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType =>
          val loC = math.ceil(lo)
          val hiC = math.floor(hi)
          if (loC > hiC || loC > Long.MaxValue.toDouble
              || hiC < Long.MinValue.toDouble) lit(false)
          else col(column) >= loC.toLong && col(column) <= hiC.toLong
        case _ => col(column) >= lo && col(column) <= hi
      }
    if (kept.isEmpty) {
      val df = readAt(spark, path, v).get
      df.filter(pred(df)).limit(0)
    } else {
      val df = spark.read.parquet(kept: _*)
      df.filter(pred(df))
    }
  }

  /** Delete manifests outside the retention window and the data files
    * none of the RETAINED manifests reference — time travel ends at
    * the window's edge, disk comes back. `keepLast` is the Delta-style
    * retention knob: the newest `keepLast` versions stay fully
    * readable ([[readAt]]) and exportable ([[exportSnapshot]]) after
    * the vacuum; anything older raises the typed
    * [[SnapshotNotFoundException]] on export and reads as None —
    * never a half-alive manifest that crashes on first action.
    *
    * Crash-safe ORDER: manifests go FIRST, then data. A crash between
    * the two leaves unreferenced data files only (the next vacuum
    * reclaims them); the reverse order would leave a readable-looking
    * old manifest whose files are gone. Retained manifests' files are
    * never touched, so an export of a retained version running
    * CONCURRENTLY with a vacuum of older ones only ever reads files
    * the vacuum will not delete. */
  def vacuum(spark: SparkSession, path: String, keepLast: Int = 1): Unit = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val (f, root) = fs(spark, path)
    val all = listVersions(f, root)
    if (all.nonEmpty) {
      val retained = all.takeRight(keepLast)
      val horizon = retained.head
      // union of files referenced by ANY retained manifest: a data dir
      // shared across the window boundary (upsert rewrites are full
      // snapshots, but insert-ignore-style bindings may share) stays
      val live = retained
        .flatMap(v => readManifest(f, root, v)).toSet
      // same tolerant parse as listVersions: a stray non-numeric .json
      // in _log is ignored, never a NumberFormatException mid-vacuum
      for (m <- f.listStatus(logDir(root)).toSeq
          .filter(_.getPath.getName.endsWith(".json"))
          .filter(m => scala.util.Try(
            m.getPath.getName.stripSuffix(".json").toLong)
            .toOption.exists(_ < horizon)))
        f.delete(m.getPath, false)
      val dataRoot = new Path(root, "data")
      if (f.exists(dataRoot)) {
        for (dir <- f.listStatus(dataRoot).toSeq.filter(_.isDirectory)) {
          val keep = f.listStatus(dir.getPath).toSeq.exists(s =>
            live.contains(s"data/${dir.getPath.getName}/${s.getPath.getName}"))
          if (!keep) f.delete(dir.getPath, true)
        }
      }
    }
  }
}
