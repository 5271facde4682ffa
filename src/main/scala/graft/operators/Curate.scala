package graft.operators

import graft.functions.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end training-corpus curation — the standard public recipe
  * (quality gate → language filter → exact dedup → near-dup dedup)
  * composed as ONE operator over a document DataFrame:
  *
  *  1. quality: token count within [minTokens, maxTokens], stopword
  *     ratio <= maxStopRatio (length and boilerplate heuristics);
  *  2. language: stopword-profile langId, docs with no signal ("und")
  *     dropped;
  *  3. exact dedup: one survivor (min id) per canonical fingerprint;
  *  4. near-dup dedup: MinHash-LSH candidates, exact-Jaccard verify,
  *     keep-min-id ([[NearDup.dedupByMinhash]]).
  *
  * Scale shape: stages 1–2 are row-local (whole-stage codegen'd, no
  * shuffle — they prune the corpus BEFORE anything shuffles); stage 3
  * is one narrow shuffle on the 32-char fingerprint; stage 4 is the
  * banded-LSH pipeline. Ordering matters at 100 TB: the cheap filters
  * run first so the expensive signature stage sees only survivors.
  *
  * A small corpus is bound by per-stage cost, not by data:
  * [[curateToShards]] plans an input within the one-partition bound
  * ([[OnePartition]]) at one partition, where none of those shuffles
  * is planned. [[curate]] itself plans what it is given.
  */
object Curate {

  /** Stage 1 — row-local quality gate. */
  def qualityFilter(df: DataFrame, textCol: String,
      minTokens: Int, maxTokens: Int, maxStopRatio: Double): DataFrame =
    df.withColumn("__tk", TextOps.tokens(col(textCol)))
      .filter(size(col("__tk")).between(minTokens, maxTokens))
      .filter(TextOps.stopwordRatio(col("__tk"), TextOps.StopwordsEn)
        <= maxStopRatio)
      .drop("__tk")

  /** Stage 2 — row-local language gate (docs with no signal dropped). */
  def langFilter(df: DataFrame, textCol: String): DataFrame =
    df.filter(TextOps.langId(TextOps.tokens(col(textCol))) =!= "und")

  /** Stage 3 — exact dedup: min id survives per canonical fingerprint
    * (one narrow shuffle on the 32-char hash). */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("__fp", TextOps.fingerprint(col(textCol)))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("__fp").orderBy(col(idCol).asc)))
      .filter(col("__rn") === 1)
      .drop("__fp", "__rn")

  /** Tokenize ONCE for stages 1–2: quality and language predicates both
    * read the same materialized `__tk` column inside one codegen stage —
    * the corpus is never re-split per stage. (The composed near-dup
    * stage re-tokenizes only the curated survivors, and persists its
    * shingle frame internally — see NearDup.dedupByMinhash.) */
  private[graft] def rowLocalGates(df: DataFrame, textCol: String,
      minTokens: Int, maxTokens: Int, maxStopRatio: Double): DataFrame =
    df.withColumn("__tk", TextOps.tokens(col(textCol)))
      .filter(size(col("__tk")).between(minTokens, maxTokens))
      .filter(TextOps.stopwordRatio(col("__tk"), TextOps.StopwordsEn)
        <= maxStopRatio)
      .filter(TextOps.langId(col("__tk")) =!= "und")
      .drop("__tk")

  /** Media-corpus curation over precomputed perceptual signatures
    * (image dHash, audio fingerprint, video representative-frame
    * hash): signature near-dup dedup first — a near-dup family must
    * collapse BEFORE per-origin capping, or a mass-duplicated asset
    * burns a source's whole budget on copies — then the skew-proof
    * per-group frequency cap on `groupCol` (origin/domain/camera).
    * The media twin of [[curate]]'s text chain, built from the same
    * proven stages ([[NearDup.dedupBySignature]],
    * [[Sample.capPerGroup]]); `groups` carries (idCol, groupCol) so
    * heavy media frames never join through the dedup. */
  def curateMediaSignatures(sigs: DataFrame, idCol: String,
      sigCol: String, groups: DataFrame, groupCol: String, cap: Int,
      maxHamming: Int = 3, salt: String = "graft-cap"): DataFrame =
    Sample.capPerGroup(
      NearDup.dedupBySignature(sigs, idCol, sigCol, maxHamming)
        .join(groups, Seq(idCol)),
      groupCol, idCol, cap, salt)

  def curate(df: DataFrame, idCol: String, textCol: String,
      minTokens: Int = 20, maxTokens: Int = 100000,
      maxStopRatio: Double = 0.15,
      neardupThreshold: Double = 0.8): DataFrame = {
    val gated = rowLocalGates(df, textCol, minTokens, maxTokens,
      maxStopRatio)
    val exact = exactDedup(gated, idCol, textCol)
    NearDup.dedupByMinhash(exact, idCol, textCol, neardupThreshold)
  }

  /** [[curate]] with CONNECTED-COMPONENT survivor selection in the
    * near-dup stage (NearDup.dedupByComponents): exactly one
    * representative per duplicate group instead of every locally
    * minimal document — the policy choice is the only difference. */
  def curateComponents(df: DataFrame, idCol: String, textCol: String,
      minTokens: Int = 20, maxTokens: Int = 100000,
      maxStopRatio: Double = 0.15,
      neardupThreshold: Double = 0.8): DataFrame = {
    val gated = rowLocalGates(df, textCol, minTokens, maxTokens,
      maxStopRatio)
    val exact = exactDedup(gated, idCol, textCol)
    NearDup.dedupByComponents(exact, idCol, textCol, neardupThreshold)
  }

  /** Corpus → training shards, end-to-end: [[curate]] (quality gate →
    * language filter → exact dedup → near-dup dedup), an optional
    * deterministic downsample ([[Sample.hashSample]] — row-local,
    * reproducible, coordinated by salt), then token-budget shard
    * assignment (exclusive prefix sum of `n_tokens` in id order, DIV
    * `shardBudget`). Output: curated survivor rows + (n_tokens, shard).
    *
    * Every stage is individually oracle-gated (t19/t16, t30, t33);
    * this is the one-call composition a pipeline actually runs. The
    * stage order matters at 100 TB: curation prunes before sampling
    * only because near-dup semantics must see the full corpus —
    * sampling first would change WHICH duplicates exist; packing runs
    * last so shards are dense over exactly the surviving documents.
    *
    * Two plans, one result. When Spark's size estimate of `df`'s plan
    * fits the one-partition bound ([[OnePartition.fits]] — decided on
    * the input, never on the curated output) the whole composition is
    * planned at one partition: the keyed windows, aggregates and
    * sort-merge joins of curation plan no exchange, and the shards come
    * from one running-sum window ([[Pack.packByBudgetAtOnePartition]]).
    * The call then launches no job; the pass runs as one query inside
    * the consumer's action, and a null id fails that action. Above the
    * bound the shards come from [[Pack.packByBudget]]'s two-level prefix
    * sum, which runs its driver aggregates (and rejects null ids) here,
    * at the call. */
  def curateToShards(df: DataFrame, idCol: String, textCol: String,
      shardBudget: Long, sampleFraction: Double = 1.0,
      salt: String = "graft", minTokens: Int = 20,
      maxTokens: Int = 100000, maxStopRatio: Double = 0.15,
      neardupThreshold: Double = 0.8): DataFrame = {
    val one = OnePartition.fits(df.sparkSession, 0L, df)
    val curated = curate(OnePartition(df, one), idCol, textCol, minTokens,
      maxTokens, maxStopRatio, neardupThreshold)
    val sampled =
      if (sampleFraction >= 1.0) curated
      else Sample.hashSample(curated, idCol, sampleFraction, salt)
    val counted = sampled.withColumn("n_tokens",
      size(TextOps.tokens(col(textCol))).cast("long"))
    if (one)
      Pack.packByBudgetAtOnePartition(counted, idCol, "n_tokens", shardBudget)
    else Pack.packByBudget(counted, idCol, "n_tokens", shardBudget)
  }

  /** One-row curation funnel report: survivor counts after each stage.
    * The four row-local/fingerprint counts come from ONE scan-aggregate
    * (stage predicates as flags, exact survivors as a conditional
    * countDistinct of the fingerprint); only the near-dup terminal
    * count re-runs the LSH pipeline. The reporting twin of [[curate]]
    * — same stages, same parameters, same numbers. */
  def curateStats(df: DataFrame, idCol: String, textCol: String,
      minTokens: Int = 20, maxTokens: Int = 100000,
      maxStopRatio: Double = 0.15,
      neardupThreshold: Double = 0.8): DataFrame =
    curateStatsFrom(df,
      curate(df, idCol, textCol, minTokens, maxTokens, maxStopRatio,
        neardupThreshold),
      textCol, minTokens, maxTokens, maxStopRatio)

  /** [[curateStats]] against an ALREADY-curated frame — a caller that
    * just ran [[curate]] reports the funnel without re-running the
    * near-dup pipeline; `curated` must be [[curate]]'s output for the
    * same parameters or the terminal count lies. */
  def curateStatsFrom(df: DataFrame, curated: DataFrame, textCol: String,
      minTokens: Int = 20, maxTokens: Int = 100000,
      maxStopRatio: Double = 0.15): DataFrame = {
    val flagged = df
      .withColumn("__tk", TextOps.tokens(col(textCol)))
      .withColumn("__q",
        size(col("__tk")).between(minTokens, maxTokens) &&
          TextOps.stopwordRatio(col("__tk"), TextOps.StopwordsEn)
            <= maxStopRatio)
      .withColumn("__l",
        col("__q") && TextOps.langId(col("__tk")) =!= "und")
    val head = flagged.agg(
      count(lit(1)).as("n_input"),
      count(when(col("__q"), 1)).as("n_quality"),
      count(when(col("__l"), 1)).as("n_lang"),
      countDistinct(when(col("__l"), TextOps.fingerprint(col(textCol))))
        .as("n_exact"))
    head.crossJoin(curated.agg(count(lit(1)).as("n_final")))
  }
}
