package graft.tools

import graft.{GraftSession, Tables}
import graft.functions.{Bpe, TextOps}
import graft.operators.{Ann, Chunk, Curate, Decontam, NearDup, Pack,
  Quality, Repetition, Sample, SpanStats}
import org.apache.spark.sql.functions._

/** Usage example + smoke driver for the TRAINING-DATA side: the full
  * corpus pipeline — curate (quality → language → exact → near-dup
  * dedup) → repetition gate → PII scrub → cross-document span
  * removal → benchmark decontamination (n-gram + embedding) →
  * SemDeDup semantic dedup → LM-quality cut → DSIR importance
  * weights → temperature-mixed sampling → BPE tokenization →
  * fixed-length training sequences — over the sf0.001 testdata,
  * printing the funnel at each stage.
  *   sbt "runMain graft.tools.DemoCorpus [sfDir]"
  */
object DemoCorpus {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.get(8)
    spark.sparkContext.setLogLevel("ERROR")

    val docs = Tables(spark, sfDir, "documents")
    val embs = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    println(s"[corpus] input docs        = ${docs.count()}")

    // Stage results are checkpointed at each funnel boundary: every
    // printed count is an action, and without it each one would
    // recompute the whole upstream chain (near-dup dedup included).
    // localCheckpoint (not persist) also TRUNCATES the logical plan —
    // ten stacked stages of inlined fold/regex/join expressions
    // otherwise grow the analyzed tree until plan analysis itself
    // OOMs the driver. Same reason a real pipeline materializes
    // between stages.
    def stage(df: org.apache.spark.sql.DataFrame) = df.localCheckpoint()

    // 1. curate: quality -> language -> exact dedup -> minhash near-dup
    val curated = stage(Curate.curate(docs, "doc_id", "text"))
    println(s"[corpus] curated survivors = ${curated.count()}")

    // 1b. Gopher repetition gate, PII scrub, and cross-document
    // boilerplate span removal (docs emptied by the rewrite drop out)
    val gated = stage(
      Repetition.repetitionFilter(curated, "doc_id", "text"))
    val scrubbed = gated
      .withColumn("text", TextOps.scrubPii(col("text")))
    val rewritten = stage(SpanStats
      .removeDuplicatedSpans(scrubbed, "doc_id", "text", n = 8,
        minDocs = 3)
      .filter(length(col("cleaned")) > 0)
      .select(col("doc_id"), col("cleaned").as("text")))
    println(s"[corpus] repetition-gated  = ${gated.count()}," +
      s" span-rewritten survivors = ${rewritten.count()}")

    // 2. decontaminate against a benchmark slice (both signals),
    // then SemDeDup semantic dedup on trained centroids
    val joined = rewritten.join(embs,
      rewritten("doc_id") === embs("vec_id"))
      .select(rewritten("doc_id"), col("text"), col("v"))
    val bench = docs.filter(col("doc_id") % 10 === 0)
      .join(embs, docs("doc_id") === embs("vec_id"))
      .select(col("text"), col("v"))
    val report = Decontam.fullReport(joined, "doc_id", "text", "v",
      bench, "text", "v", n = 5, threshold = 0.9)
    val cleanNg = stage(joined.join(
      report.filter(!col("contaminated")).select("doc_id"), Seq("doc_id")))
    println(s"[corpus] decontaminated    = ${cleanNg.count()}" +
      s" (flagged ${report.filter(col("contaminated")).count()})")
    val cents = Ann.trainCentroids(embs, "vec_id", "v",
      nlist = 4, iters = 2)
    val clean = stage(NearDup.dedupBySemanticCells(cleanNg, "doc_id",
      "v", cents, "cent_id", "cv", threshold = 0.95))
    println(s"[corpus] semantic dedup    = ${clean.count()}")

    // 3. LM quality score (CCNet-style perplexity proxy) — keep docs
    // whose char-trigram likelihood under the benchmark-slice LM is
    // above the corpus median
    val lm = Quality.charLmScore(clean, "doc_id", "text",
      bench.select("text"), "text")
    val cut = lm.stat.approxQuantile("avg_logprob", Array(0.5), 0.01)(0)
    val likely = stage(clean.join(
      lm.filter(col("avg_logprob") >= cut).select("doc_id"), Seq("doc_id")))
    println(s"[corpus] LM-quality kept   = ${likely.count()}" +
      f" (median logprob cut $cut%.3f)")

    // 3b. DSIR importance weights: target = benchmark-slice LM,
    // raw = a disjoint corpus slice — reported, not filtered (the
    // demo corpus is too small to resample)
    val dsir = stage(Quality.dsirWeights(likely, "doc_id", "text",
      bench.select("text"), "text",
      docs.filter(col("doc_id") % 10 === 1).select("text"), "text"))
    println(s"[corpus] DSIR target-like  = " +
      s"${dsir.filter(col("selected")).count()}/${dsir.count()}")

    // 4. temperature-mixed sampling by language
    val withLang = likely.join(docs.select("doc_id", "lang"), Seq("doc_id"))
      .withColumn("n_tok", Bpe.tokenCount(col("text"), Bpe.GateMerges))
    val mixed = Sample.temperatureMixture(withLang, "doc_id", "lang",
      "n_tok", alpha = 0.7, totalBudget = 50000L)
    println(s"[corpus] after mixture     = ${mixed.count()}")

    // 5. tokenize + pack fixed-length training sequences
    val seqs = Pack.packSequences(
      mixed.select(col("doc_id"),
        Bpe.tokenIds(col("text"), Bpe.GateMerges).as("ids")),
      "doc_id", "ids", seqLen = 512)
    val n = seqs.count()
    val full = seqs.filter(col("n_tokens") === 512).count()
    println(s"[corpus] training seqs     = $n ($full full @512 tokens)")

    // bonus: boilerplate-fragment scan via content-defined chunking
    val boiler = Chunk.chunkDupStats(curated, "doc_id", "text",
      rolling = true)
      .agg(round(avg("dup_ratio"), 4).as("avg_chunk_dup_ratio"))
      .collect()(0).getDouble(0)
    println(s"[corpus] avg chunk-dup ratio = $boiler")
    spark.stop()
  }
}
