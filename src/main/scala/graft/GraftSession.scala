package graft

import org.apache.spark.sql.SparkSession

/** The only session builder: every entry point (tests, Verify, Bench,
  * pipelines, tools) builds through [[builder]] or [[get]], so all of
  * them run the same conf surface — UTC, ns-parquet tolerance, AQE,
  * non-ANSI mode, local-sized shuffle partitioning, and the `file:`
  * file system that sets modes without forking `chmod`. Callers pass
  * their own core count and set their own log level; `BuilderGuardSpec`
  * fails the build if another `SparkSession.builder()` appears.
  */
object GraftSession {
  // Catalog tables (bucketing) need a warehouse + embedded metastore;
  // isolate both per-JVM so parallel test JVMs never share Derby locks.
  private lazy val warehouse: String = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-warehouse").toString
    System.setProperty("derby.system.home", dir)
    dir
  }

  /** Shuffle/AQE tuning shared by every entry point (r12 optimization,
    * guide §2.2 "fewer, larger reduce partitions" + §2.1).
    *
    * - `bypassMergeThreshold=1`: always take the serialized sort-path
    *   shuffle writer (ONE file + index per map task) instead of the
    *   bypass writer's R files per map task. At production reduce
    *   counts (R ≫ 200) the bypass path never applies anyway, so this
    *   aligns the local writer with the at-scale one; locally it
    *   removes R file create/close syscalls per task — measured 4×
    *   on per-task shuffle overhead (160 ms → 40 ms run, 85 ms → 12 ms
    *   CPU per task on a 96-task micro shuffle, ext4 local dirs).
    * - `parallelismFirst=true` (r13 REVERSAL of the r12 `false`, back
    *   to the Spark default): with `false`, AQE coalesced post-shuffle
    *   partitions purely by advisory SIZE, which starved compute-dense
    *   stages — at 10× scale the containment candidate join ran its
    *   60 s of CPU in 5 tasks on 32 cores. Measured in-JVM A/B
    *   (false→true): SF1 t100 21.9→12.1 s, t103 95.4→21.4 s; at
    *   sf0.1 neutral-to-better (t100 2.43→1.67 s, t68 1.13→1.00 s,
    *   worst regression t69 +10% ≈ noise). `true` keeps the
    *   parallelism floor when coalescing and only then respects the
    *   advisory size — scale-adaptive in exactly the way §2.2 asks.
    *   The near-empty-task overhead `false` was bought for is handled
    *   by `minPartitionSize` (default 1m) collapsing KB-sized
    *   exchanges anyway.
    * - advisory partition size is SCALE-DEPENDENT, so it is
    *   env-parameterised (`SPARK_GRAFT_ADVISORY_PARTITION`): the local
    *   default 16m keeps sf0.1/SF1 stages parallel enough on one box
    *   while collapsing KB-sized exchanges to one task; production
    *   clusters should run 128m-256m (guide §9).
    */
  def perfConfs: Seq[(String, String)] = Seq(
    "spark.shuffle.sort.bypassMergeThreshold" -> "1",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
      sys.env.getOrElse("SPARK_GRAFT_ADVISORY_PARTITION", "16m"),
    // canChangeCachedPlanOutputPartitioning stays at the Spark
    // DEFAULT (false). It was tried this round ("let AQE coalesce
    // cache builds too", ~neutral at sf0.1) and REVERTED on SF1
    // evidence: with it on, a persisted frame whose child is an
    // adaptive plan executed as one NON-FINALIZED monolith — t103's
    // history pipeline ran its 60 s of CPU inside a single 10-task
    // no-shuffle stage (RDD name "AdaptiveSparkPlan isFinalPlan=
    // false"). In-JVM A/B at SF1: t103 23.1 s (true) vs 11.2 s
    // (false); t100 flat. Cache partition sizing is handled instead
    // by rooting batch-bounded caches at an explicit repartition
    // (NearDup.containmentIncrementalCore).
    // Whole-stage-codegen compile cache (STATIC conf, default 100
    // entries). Task threads serialize behind CodeGenerator.compile's
    // per-source KeyLock; a multi-stage query has 50-150 codegen units,
    // so at the default size re-running a query evicts its own entries
    // and EVERY stage recompiles with all its tasks parked on the lock
    // (thread dumps: 31/33 task threads in KeyLock.acquireLock under
    // CodeGenerator.compile). 5000 entries lets repeated plans (bench
    // reps, incremental batches, long-lived executors re-running the
    // same pipelines) hit the cache; generated source is id-free with
    // spark.sql.codegen.comments off, so identical plans share entries.
    "spark.sql.codegen.cache.maxEntries" -> "5000")

  def builder(cores: Int = 4): SparkSession.Builder =
    perfConfs.foldLeft(
      SparkSession.builder()
        .config("spark.sql.warehouse.dir", warehouse)
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.ui.enabled", "false")
        // no chmod process per created file (see NioLocalFileSystem)
        .config("spark.hadoop.fs.file.impl",
          classOf[NioLocalFileSystem].getName)) {
      case (b, (k, v)) => b.config(k, v)
    }

  def get(cores: Int = 4): SparkSession = builder(cores).getOrCreate()
}
