package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.{TextOps, VectorOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline operators (SURVEY.md §7.2.8 "llm" extension):
  * dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard), similarity
  * search (brute-force cosine + LSH-bucketed scale path), and text
  * analysis (tokens, quality, lang-id, fingerprints).
  *
  * Oracle parity notes: every float reduction is a sequential fold on
  * both engines (DuckDB side generated as left-assoc addition chains by
  * DuckSql), md5-derived hashes use DuckSql.hexToLong to mirror
  * conv(hex), and similarity scores are rounded before ordering with id
  * tie-breaks.
  */
object TrainingQueries {

  private val Dims = 64
  private val MinhashK = 12 // 4 bands x 3 rows
  private val Bands = 4
  private val SimhashBits = 64
  private val LshPlanes = 16
  private val PqM = 4 // PQ subspaces
  private val PqDsub = Dims / PqM
  private val PqKsub = 8 // codes per subspace
  private val PqIters = 2
  private val SampleRates = Map(
    "en" -> 0.5, "de" -> 0.25, "fr" -> 0.125, "zh" -> 0.0625)
  private val SplitFractions = Seq(0.6, 0.2)
  // bites every source at sf0.01 (uniform 25 docs/source)
  private val SourceCap = 15
  // en far above its corpus total (rate clamps to 1); es absent (drops)
  private val TokenBudgets = Map(
    "en" -> 1000000L, "de" -> 2000L, "fr" -> 1000L, "zh" -> 500L)
  // exact binary fractions summing to 1 (normalization is identity);
  // at sf0.01 src0 plans ~2.5 epochs (upsampling), src1 ~1.17,
  // src2/src3 < 1 (downsampling) — all three planner regimes hit
  private val MixtureWeights = Map(
    "src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.125, "src3" -> 0.125)
  private val MixtureBudget = 40000L
  private val MixtureMaxEpochs = 3.0
  // t114 drift bins: fixed install-time edges over events.value
  // (observed range 0.01–490 at sf0.01)
  private val PsiEdges = Seq(10.0, 20.0, 40.0, 80.0, 160.0, 320.0)

  /** t124's pinned histogram-asset edges (events.value ∈ [0, ~500]). */
  private val HistEdges = Seq(1.0, 5.0, 25.0, 125.0, 250.0)
  // t117/t118 retrieval query: one rare term (df≈5% of docs) + three
  // common ones, so idf spread is wide; k1=1.25, b=0.75 (exact binary
  // fractions — the BM25 constants 2.25/0.25 below are too)
  private val BmTerms = Seq("dup", "vector", "spark", "merge")
  // t118 query vector: quarters in [-1.25, 1.25] — exact in both
  // decimal and binary, so the literal round-trips engine-to-engine
  private val RrfQueryVec: Seq[Double] =
    Seq.tabulate(Dims)(i => ((i * 7 + 3) % 11 - 5) / 4.0)

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  /** The testdata tables are single parquet files (one input split); hash
    * pipelines are compute-bound per row, so spread rows across cores
    * before the expensive projection. At 100TB inputs arrive pre-split,
    * but the principle is the same: partition for the compute. */
  private def spread(s: SparkSession, df: DataFrame): DataFrame =
    df.repartition(s.sparkContext.defaultParallelism)

  /** One shared definition of the dir-scoped scratch scheme —
    * see [[graft.Tables.gatePath]]. */
  private def gatePath(dir: String, name: String): String =
    Tables.gatePath(dir, name)

  private def toksSql = "string_split(text, ' ')"

  private def inList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("(", ", ", ")")

  // Spark-side shingle frame reused by several queries. Tokens are
  // materialized before shingling (see TextOps.shingles3 PERF note).
  private def shingleDf(s: SparkSession, dir: String): DataFrame =
    spread(s, docs(s, dir))
      .withColumn("tk", TextOps.tokens(col("text")))
      .select(col("doc_id"), TextOps.shingles3(col("tk")).as("sh"))

  /** Signature frame: shingles hashed ONCE (md5 per shingle), then ALL
    * k affine-permutation mins in ONE sequential fold with a k-slot
    * accumulator — measured 0.47s vs 0.68s (12 per-k array transforms)
    * vs 7.97s (explode + 12 min aggregates) on sf0.1. Row-local, no
    * wide arrays cross any shuffle; bands derive by one explode.
    * The construction lives in operators.NearDup (the composed dedup
    * operator); this is the oracle-gated entry to the same code. */
  private def minhashBandsDf(s: SparkSession, dir: String): DataFrame =
    graft.operators.NearDup.minhashBands(spread(s, docs(s, dir)),
      "doc_id", "text", MinhashK, Bands)

  /** DuckDB mirror of NearDup.simhash64 (bit-equal, proven by t09):
    * bits 0–31 vote on md5 chars 1–8, bits 32–63 on chars 9–16. The
    * sign-bit term is written (-(2^63-1))-1 so DuckDB keeps the whole
    * assemble chain in BIGINT (a bare -9223372036854775808 literal
    * parses as HUGEINT and would widen — and break — the column
    * type); the positive terms sum first, so nothing wraps. */
  private def simhashSql: String = {
    val bitSums = (0 until SimhashBits).map { j =>
      val hv = if (j < 32) "hv" else "hv2"
      s"SUM(CASE WHEN ($hv >> ${j % 32}) & 1 = 1 THEN 1 ELSE -1 END) AS b$j"
    }.mkString(", ")
    val assemble = (0 until SimhashBits).map { j =>
      val bit = if (j == 63) "(-9223372036854775807 - 1)" else (1L << j).toString
      s"(CASE WHEN b$j > 0 THEN $bit ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
       |h AS (SELECT doc_id, ${DuckSql.hexToLong("md5(tok)", 8)} AS hv,
       |  ${DuckSql.hexToLongAt("md5(tok)", 9, 8)} AS hv2 FROM t),
       |b AS (SELECT doc_id, $bitSums FROM h GROUP BY doc_id)
       |SELECT doc_id, $assemble AS simhash FROM b""".stripMargin
  }

  private def minhashBandsSql: String = minhashBandsSqlFrom("documents")

  /** Shared CTE chain (t57/t60): brute-force near-dup closure over
    * documents — banded candidates → exact-Jaccard verify at 0.8 →
    * symmetric edges → recursive reach → `comp(doc_id, component)`
    * with component = min reachable id (self if no near-dup).
    * Callers splice after `WITH RECURSIVE`. No exact-class collapse:
    * identical docs verify at J = 1, so closures and minima coincide
    * with the operators' rep-collapsed form. */
  private def componentsClosureCtes: String =
    s"""bands AS (SELECT * FROM ($minhashBandsSql)),
       |cands AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
       |   AND a.doc_id < b.doc_id),
       |sh AS (SELECT doc_id, ${DuckSql.shingles3(toksSql)} AS s
       |  FROM documents),
       |verified AS (SELECT d1, d2 FROM cands
       |  JOIN sh s1 ON s1.doc_id = cands.d1
       |  JOIN sh s2 ON s2.doc_id = cands.d2
       |  WHERE CAST(len(list_intersect(s1.s, s2.s)) AS DOUBLE)
       |        / len(list_distinct(list_concat(s1.s, s2.s))) >= 0.8),
       |edges AS (SELECT d1 AS u, d2 AS v FROM verified
       |  UNION SELECT d2, d1 FROM verified),
       |reach(u, v) AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       |comp AS (SELECT d.doc_id,
       |    LEAST(d.doc_id, COALESCE(r.m, d.doc_id)) AS component
       |  FROM documents d LEFT JOIN (
       |    SELECT u, MIN(v) AS m FROM reach GROUP BY u) r
       |    ON r.u = d.doc_id)""".stripMargin

  /** WITH-chain replicating Ann.trainCentroids in DuckDB: c0 = first
    * `nlist` vectors by id, then per iteration k: a_k (broadcast-assign
    * row_number), s_k (per-dim floor(x·10⁶) BIGINT sums — exact,
    * order-free, and floor dodges the float→decimal midpoint rounding
    * the two engines disagree on), c_k (mean as one double
    * division; empty cells COALESCE to the previous centroid).
    * Centroids are per-dim columns m0..m{dims-1} — no list assembly,
    * so downstream distance expressions stay positional arithmetic. */
  private def lloydSql(nlist: Int, iters: Int): String =
    lloydSqlFrom("embeddings", nlist, iters)

  /** Same coarse-Lloyd chain over any (vec_id, embedding) relation —
    * lets the frozen-asset gates (t66) train on a sub-corpus CTE. */
  private def lloydSqlFrom(rel: String, nlist: Int, iters: Int): String = {
    val initCols = (1 to Dims)
      .map(i => s"CAST(embedding[$i] AS DOUBLE) AS m${i - 1}")
      .mkString(", ")
    def d2(e: String, c: String) = (1 to Dims).map { i =>
      val d = s"(CAST($e.embedding[$i] AS DOUBLE) - $c.m${i - 1})"
      s"$d * $d"
    }.mkString("(", " + ", ")")
    val sb = new StringBuilder(
      s"c0 AS (SELECT vec_id AS cent_id, $initCols FROM $rel " +
        s"ORDER BY vec_id LIMIT $nlist)")
    for (k <- 1 to iters) {
      val prev = s"c${k - 1}"
      val sumCols = (1 to Dims)
        .map(i => "SUM(CAST(floor(CAST(e.embedding[" + i +
          "] AS DOUBLE) * 1000000.0) AS BIGINT)) AS s" + (i - 1))
        .mkString(", ")
      val meanCols = (0 until Dims)
        .map(i => s"COALESCE(CAST(s$k.s$i AS DOUBLE) / (1000000.0 * s$k.n), " +
          s"$prev.m$i) AS m$i")
        .mkString(", ")
      sb ++= s""",
         |a$k AS (SELECT e.vec_id, c.cent_id,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${d2("e", "c")} ASC, c.cent_id ASC) AS rn
         |  FROM $rel e, $prev c),
         |s$k AS (SELECT a.cent_id, COUNT(*) AS n, $sumCols
         |  FROM (SELECT vec_id, cent_id FROM a$k WHERE rn = 1) a
         |  JOIN $rel e USING (vec_id) GROUP BY a.cent_id),
         |c$k AS (SELECT $prev.cent_id, $meanCols
         |  FROM $prev LEFT JOIN s$k ON s$k.cent_id = $prev.cent_id)"""
        .stripMargin
    }
    sb.toString
  }

  /** Centroid-side squared distance against lloydSql's m-columns. */
  private def d2Trained(e: String, c: String): String =
    (1 to Dims).map { i =>
      val d = s"(CAST($e.embedding[$i] AS DOUBLE) - $c.m${i - 1})"
      s"$d * $d"
    }.mkString("(", " + ", ")")

  /** Exact squared distance between two EMBEDDING relations (probe vs
    * corpus row) — the left-assoc `+` chain replays VectorOps.sqDist's
    * sequential fold term for term. */
  private def d2Exact(p: String, e: String): String =
    (1 to Dims).map { i =>
      val d = s"(CAST($p.embedding[$i] AS DOUBLE)" +
        s" - CAST($e.embedding[$i] AS DOUBLE))"
      s"$d * $d"
    }.mkString("(", " + ", ")")

  /** Banded-minhash SQL over any (doc_id, text) relation `from` —
    * lets composed-pipeline oracles (t19) run the same signature over
    * an already-curated CTE. */
  private def minhashBandsSqlFrom(from: String): String = {
    val sigCols = (0 until MinhashK).map { k =>
      s"list_min(list_transform(hs, h -> (${TextOps.minhashA(k)} * h + ${TextOps.minhashB(k)}) % ${TextOps.MinhashP})) AS h$k"
    }.mkString(", ")
    val bandSelects = (0 until Bands).map { b =>
      val parts = (0 until 3).map(r => s"CAST(h${3 * b + r} AS VARCHAR)")
      s"SELECT doc_id, $b AS band_id, md5(${parts.mkString(" || ',' || ")}) AS band_hash FROM sig"
    }.mkString(" UNION ALL ")
    s"""WITH toks AS (SELECT doc_id, $toksSql AS tk FROM $from),
       |shing AS (SELECT doc_id, ${DuckSql.shingles3("tk")} AS sh FROM toks),
       |hashed AS (SELECT doc_id,
       |  list_transform(sh, x -> ${DuckSql.hexToLong("md5(x)", 8)}) AS hs
       |  FROM shing WHERE len(sh) > 0),
       |sig AS (SELECT doc_id, $sigCols FROM hashed)
       |$bandSelects""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- exact dedup by content hash (hash-groupBy; at 100TB this is a
    // single shuffle on the hash, with the text column pruned away)
    QueryDef(
      "t01_dedup_exact",
      (s, dir) => docs(s, dir)
        .groupBy(TextOps.fingerprint(col("text")).as("text_hash"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n")),
      Some("""SELECT md5(lower(trim(text))) AS text_hash, MIN(doc_id) AS keep_id,
             |  COUNT(*) AS n FROM documents GROUP BY 1""".stripMargin)),

    // ---- per-document fingerprint (lineage / idempotency key)
    QueryDef(
      "t02_fingerprint",
      (s, dir) => docs(s, dir)
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp")),
      Some("SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents")),

    // ---- rolling-hash fingerprint (Rabin-Karp recurrence): the cheap
    // integer-fold alternative to the md5 fingerprint, and the unit of
    // content-defined chunking. Exact-dup groups under it must agree
    // with the md5 ones (same canonicalization).
    QueryDef(
      "t22_rolling_fingerprint",
      (s, dir) => docs(s, dir)
        .groupBy(TextOps.rollingHash(col("text")).as("rhash"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n")),
      // list_reduce seeds from the first element; that equals the
      // zero-seeded Spark fold because 0*B + x1 = x1
      Some(s"""SELECT rhash, MIN(doc_id) AS keep_id, COUNT(*) AS n FROM (
              |  SELECT doc_id,
              |    list_reduce(
              |      list_transform(string_split(lower(trim(text)), ''),
              |        c -> CAST(ascii(c) AS BIGINT)),
              |      (acc, x) -> (acc * ${TextOps.RollingB} + x)
              |        % ${TextOps.RollingP}) AS rhash
              |  FROM documents) GROUP BY 1""".stripMargin)),

    // ---- token counting: whitespace + REAL corpus-trained BPE
    // (functions.Bpe — native codegen'd kernel; the oracle replays the
    // pinned merge table with a recursive CTE over the word dictionary)
    QueryDef(
      "t03_token_stats",
      (s, dir) => docs(s, dir)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(TextOps.tokens(col("text")))).as("total_tokens"),
          sum(graft.functions.Bpe.tokenCount(col("text"),
            graft.functions.Bpe.GateMerges)).as("total_bpe"),
          sum("n_chars").as("total_chars")),
      Some(s"""WITH RECURSIVE
             |${graft.functions.Bpe.duckSql(
                 graft.functions.Bpe.GateMerges,
                 "documents", "doc_id", "text")}
             |SELECT source, COUNT(*) AS n_docs,
             |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
             |  CAST(SUM(bc.n_tokens) AS BIGINT) AS total_bpe,
             |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
             |FROM documents d JOIN __bpe_counts bc USING (doc_id)
             |GROUP BY 1""".stripMargin)),

    // ---- quality scoring: length / stopword-ratio / token stats
    QueryDef(
      "t04_quality_score",
      (s, dir) => docs(s, dir)
        .withColumn("toks", TextOps.tokens(col("text")))
        .select(col("doc_id"),
          size(col("toks")).as("n_tokens"),
          TextOps.stopwordRatio(col("toks"), TextOps.StopwordsEn).as("stop_ratio"),
          TextOps.avgTokenLen(col("toks")).as("avg_token_len")),
      Some(s"""SELECT doc_id, len(tk) AS n_tokens,
              |  ROUND(CAST(len(list_filter(tk, t -> t IN ${inList(TextOps.StopwordsEn)})) AS DOUBLE)
              |        / len(tk), 4) AS stop_ratio,
              |  ROUND(CAST(list_sum(list_transform(tk, t -> len(t))) AS DOUBLE)
              |        / len(tk), 4) AS avg_token_len
              |FROM (SELECT doc_id, $toksSql AS tk FROM documents)""".stripMargin)),

    // ---- language-ID: n-gram/stopword-profile heuristic vs labeled lang
    QueryDef(
      "t05_langid",
      (s, dir) => docs(s, dir)
        .withColumn("tk", TextOps.tokens(col("text")))
        .withColumn("predicted", TextOps.langId(col("tk")))
        .groupBy("lang", "predicted").agg(count(lit(1)).as("n")),
      Some(s"""SELECT lang,
              |  CASE WHEN en > es THEN 'en' WHEN es > en THEN 'es'
              |       ELSE 'und' END AS predicted,
              |  COUNT(*) AS n
              |FROM (SELECT lang,
              |    len(list_filter(tk, t -> t IN ${inList(TextOps.StopwordsEn)})) AS en,
              |    len(list_filter(tk, t -> t IN ${inList(TextOps.StopwordsEs)})) AS es
              |  FROM (SELECT lang, $toksSql AS tk FROM documents))
              |GROUP BY 1, 2""".stripMargin)),

    // ---- shingling stats (the MinHash input unit)
    QueryDef(
      "t06_shingle_stats",
      (s, dir) => docs(s, dir)
        .withColumn("toks", TextOps.tokens(col("text")))
        .select(col("doc_id"), size(col("toks")).as("n_tokens"),
          size(TextOps.shingles3(col("toks"))).as("n_shingles")),
      Some(s"""SELECT doc_id, len(tk) AS n_tokens,
              |  len(${DuckSql.shingles3("tk")}) AS n_shingles
              |FROM (SELECT doc_id, $toksSql AS tk FROM documents)""".stripMargin)),

    // ---- MinHash signatures banded for LSH (shingle -> minhash -> band).
    // At 100TB: narrow (doc_id, band_id, band_hash) rows, shuffled by
    // (band_id, band_hash) — the classic scalable near-dup layout.
    QueryDef(
      "t07_minhash_bands",
      (s, dir) => minhashBandsDf(s, dir),
      Some(minhashBandsSql)),

    // ---- LSH candidate pairs: bucket-local expansion with the
    // hot-bucket guard (operators.NearDup.candidatePairs — buckets over
    // maxBucket switch from clique to hub-star so a degenerate corpus
    // can neither OOM a task nor emit O(n²) pairs). At this corpus all
    // buckets are tiny, so the result equals the unguarded expansion
    // the oracle computes.
    QueryDef(
      "t08_minhash_pairs",
      (s, dir) => graft.operators.NearDup
        .candidatePairs(minhashBandsDf(s, dir), "doc_id", maxBucket = 1024)
        .agg(count(lit(1)).as("n_candidate_pairs")),
      Some(s"""WITH bands AS ($minhashBandsSql)
              |SELECT COUNT(*) AS n_candidate_pairs FROM (
              |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
              |  FROM bands a JOIN bands b
              |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
              |   AND a.doc_id < b.doc_id)""".stripMargin)),

    // ---- end-to-end near-dup dedup: LSH candidates -> exact-Jaccard
    // verify -> keep-min-id survivors, as ONE operator
    // (operators.NearDup.dedupByMinhash). The oracle replicates the
    // full composition: same banded signatures (t07 proves them
    // bit-equal), same candidate join, same exact verify, same
    // keep-min-id policy.
    QueryDef(
      "t16_neardup_survivors",
      (s, dir) => graft.operators.NearDup.dedupByMinhash(
        spread(s, docs(s, dir)), "doc_id", "text",
        threshold = 0.8, k = MinhashK, bands = Bands)
        .select(col("doc_id")),
      Some(s"""WITH bands AS ($minhashBandsSql),
              |cands AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
              |  FROM bands a JOIN bands b
              |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
              |   AND a.doc_id < b.doc_id),
              |sh AS (SELECT doc_id, ${DuckSql.shingles3(toksSql)} AS s
              |  FROM documents),
              |removed AS (SELECT DISTINCT d2 FROM cands
              |  JOIN sh s1 ON s1.doc_id = cands.d1
              |  JOIN sh s2 ON s2.doc_id = cands.d2
              |  WHERE CAST(len(list_intersect(s1.s, s2.s)) AS DOUBLE)
              |        / len(list_distinct(list_concat(s1.s, s2.s))) >= 0.8)
              |SELECT doc_id FROM documents
              |WHERE doc_id NOT IN (SELECT d2 FROM removed)""".stripMargin)),

    // ---- near-dup dedup, CONNECTED-COMPONENT survivor policy: the
    // verified-pair graph collapsed via alternating large-star /
    // small-star joins, exactly one survivor (min id) per component
    // (operators.NearDup.dedupByComponents). The oracle computes the
    // same components by brute-force transitive closure (recursive
    // CTE, min reachable id) — a completely different algorithm
    // reaching the same labeling, which is the point of the gate.
    QueryDef(
      "t24_neardup_components",
      (s, dir) => graft.operators.NearDup.dedupByComponents(
        spread(s, docs(s, dir)), "doc_id", "text",
        threshold = 0.8, k = MinhashK, bands = Bands)
        .select(col("doc_id")),
      // bands wraps its nested WITH in a derived table: under WITH
      // RECURSIVE, a bare  bands AS (WITH ... SELECT ... UNION ALL ...)
      // makes DuckDB treat the UNION arms as base/recursive parts and
      // the inner CTEs fall out of scope
      Some(s"""WITH RECURSIVE bands AS (SELECT * FROM ($minhashBandsSql)),
              |cands AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
              |  FROM bands a JOIN bands b
              |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
              |   AND a.doc_id < b.doc_id),
              |sh AS (SELECT doc_id, ${DuckSql.shingles3(toksSql)} AS s
              |  FROM documents),
              |verified AS (SELECT d1, d2 FROM cands
              |  JOIN sh s1 ON s1.doc_id = cands.d1
              |  JOIN sh s2 ON s2.doc_id = cands.d2
              |  WHERE CAST(len(list_intersect(s1.s, s2.s)) AS DOUBLE)
              |        / len(list_distinct(list_concat(s1.s, s2.s))) >= 0.8),
              |edges AS (SELECT d1 AS u, d2 AS v FROM verified
              |  UNION SELECT d2, d1 FROM verified),
              |reach(u, v) AS (
              |  SELECT u, v FROM edges
              |  UNION
              |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
              |removed AS (SELECT u FROM (
              |  SELECT u, MIN(v) AS m FROM reach GROUP BY u)
              |  WHERE m < u)
              |SELECT doc_id FROM documents
              |WHERE doc_id NOT IN (SELECT u FROM removed)""".stripMargin)),

    // ---- SimHash (64-bit): per-token hash bit votes -> sign bits
    // (operators.NearDup.simhash64 — the signature stage of the
    // simhash dedup path; 64 bits is the standard web-scale width)
    QueryDef(
      "t09_simhash",
      (s, dir) => graft.operators.NearDup
        .simhash64(spread(s, docs(s, dir)), "doc_id", "text"),
      Some(simhashSql)),

    // ---- end-to-end SimHash near-dup dedup: shared-band candidates ->
    // hamming-distance verify -> keep-min-id survivors
    // (operators.NearDup.dedupBySimhash). The oracle bands 4 x 16-bit
    // while the operator uses paired-block tables
    // (NearDup.simhashBandsPaired) — DELIBERATELY different candidate
    // generation: both schemes guarantee every hamming<=3 pair becomes
    // a candidate (pigeonhole), and the bit_count(xor) verify then
    // reduces BOTH to exactly {pairs with hamming<=3}, so the survivor
    // sets agree while the gate cross-checks the recall guarantee
    // itself. maxHamming=3 is the classic 64-bit radius — no
    // per-corpus tuning now that the signature doesn't saturate.
    QueryDef(
      "t18_simhash_survivors",
      (s, dir) => graft.operators.NearDup.dedupBySimhash(
        spread(s, docs(s, dir)), "doc_id", "text", maxHamming = 3)
        .select(col("doc_id")),
      Some {
        val bandSelects = (0 until 4).map(b =>
          s"SELECT doc_id, $b AS band_id, (simhash >> ${16 * b}) & 65535 AS band_hash FROM sig")
          .mkString(" UNION ALL ")
        s"""WITH sig AS ($simhashSql),
           |bands AS ($bandSelects),
           |cands AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
           |  FROM bands a JOIN bands b
           |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
           |   AND a.doc_id < b.doc_id),
           |removed AS (SELECT DISTINCT d2 FROM cands
           |  JOIN sig s1 ON s1.doc_id = cands.d1
           |  JOIN sig s2 ON s2.doc_id = cands.d2
           |  WHERE bit_count(xor(s1.simhash, s2.simhash)) <= 3)
           |SELECT doc_id FROM documents
           |WHERE doc_id NOT IN (SELECT d2 FROM removed)""".stripMargin
      }),

    // ---- brute-force cosine top-k (ANN baseline; probes broadcast so the
    // candidate scan streams without a shuffle)
    QueryDef(
      "t10_ann_cosine_topk",
      (s, dir) => {
        val e = spread(s, Tables(s, dir, "embeddings"))
          .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("v"))
          .withColumn("nrm", VectorOps.norm(col("v")))
        val p = e.filter(col("vec_id") < 50)
          .select(col("vec_id").as("p_id"), col("v").as("pv"), col("nrm").as("pn"))
        val c = e.select(col("vec_id").as("c_id"), col("v").as("cv"), col("nrm").as("cn"))
        val pairs = c.crossJoin(broadcast(p))
          .filter(col("p_id") =!= col("c_id"))
          .select(col("p_id"), col("c_id"),
            VectorOps.cosine(col("pv"), col("cv"), col("pn"), col("cn")).as("cos"))
        val w = Window.partitionBy("p_id").orderBy(col("cos").desc, col("c_id").asc)
        pairs.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
          .select("p_id", "rn", "c_id", "cos")
      },
      Some(s"""WITH n AS (SELECT vec_id, embedding,
              |    sqrt(${DuckSql.dot("embedding", "embedding", Dims)}) AS nrm
              |  FROM embeddings),
              |p AS (SELECT * FROM n WHERE vec_id < 50),
              |pairs AS (SELECT p.vec_id AS p_id, c.vec_id AS c_id,
              |    round(${DuckSql.dot("p.embedding", "c.embedding", Dims)}
              |          / (p.nrm * c.nrm), 6) AS cos
              |  FROM p, n c WHERE p.vec_id <> c.vec_id)
              |SELECT p_id, rn, c_id, cos FROM (
              |  SELECT *, row_number() OVER (
              |    PARTITION BY p_id ORDER BY cos DESC, c_id ASC) AS rn
              |  FROM pairs) WHERE rn <= 5""".stripMargin)),

    // ---- LSH bucket histogram (sign-random-projection; the scale path:
    // probe only its own bucket instead of all candidates)
    QueryDef(
      "t11_ann_lsh_buckets",
      (s, dir) => spread(s, Tables(s, dir, "embeddings"))
        .select(VectorOps.lshSignature(
          VectorOps.asDouble(col("embedding")), LshPlanes, Dims).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n")),
      Some {
        val sig = (0 until LshPlanes).map { p =>
          val w = (0 until Dims).map(i => VectorOps.lshWeight(p, i))
          s"(CASE WHEN ${DuckSql.dotWeights("embedding", w)} > 0 THEN ${1L << p} ELSE 0 END)"
        }.mkString(" + ")
        s"""SELECT bucket, COUNT(*) AS n FROM (
           |  SELECT $sig AS bucket FROM embeddings) GROUP BY 1""".stripMargin
      }),

    // ---- n-gram Jaccard near-dup summary over a probe window
    QueryDef(
      "t12_ngram_jaccard",
      (s, dir) => {
        val sh = shingleDf(s, dir).filter(col("doc_id") < 100)
        val a = sh.select(col("doc_id").as("d1"), col("sh").as("sh1"))
        val b = sh.select(col("doc_id").as("d2"), col("sh").as("sh2"))
        val j = round(
          size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
            size(array_union(col("sh1"), col("sh2"))), 4)
        a.join(b, col("d1") < col("d2"))
          .select(j.as("j"))
          .agg(count(lit(1)).as("n_pairs"),
            count(when(col("j") > 0, 1)).as("n_overlapping"),
            max(col("j")).as("max_j"))
      },
      Some(s"""WITH s AS (SELECT doc_id, ${DuckSql.shingles3(toksSql)} AS sh
              |  FROM documents WHERE doc_id < 100),
              |p AS (SELECT round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              |        / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS j
              |  FROM s a JOIN s b ON a.doc_id < b.doc_id)
              |SELECT COUNT(*) AS n_pairs,
              |  COUNT(CASE WHEN j > 0 THEN 1 END) AS n_overlapping,
              |  MAX(j) AS max_j FROM p""".stripMargin)),

    // ---- embedding-cosine near-dup: pairs above threshold -> keep-min-id
    // dedup decision (the embedding flavor of the dedup family). The
    // probe window keeps the pair count bounded; at scale the LSH
    // buckets (t11) pre-filter candidates before this exact check.
    QueryDef(
      "t14_embedding_neardup",
      (s, dir) => {
        val e = spread(s, Tables(s, dir, "embeddings"))
          .filter(col("vec_id") < 300)
          .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("v"))
          .withColumn("nrm", VectorOps.norm(col("v")))
        val a = e.select(col("vec_id").as("id1"), col("v").as("v1"),
          col("nrm").as("n1"))
        val b = e.select(col("vec_id").as("id2"), col("v").as("v2"),
          col("nrm").as("n2"))
        val pairs = a.join(b, col("id1") < col("id2"))
          .select(col("id1"), col("id2"),
            VectorOps.cosine(col("v1"), col("v2"), col("n1"), col("n2"))
              .as("cos"))
        pairs.agg(count(lit(1)).as("n_pairs"),
          count(when(col("cos") >= 0.9, 1)).as("n_neardup"),
          count(when(col("cos") >= 0.5, 1)).as("n_similar"),
          max("cos").as("max_cos"))
      },
      Some(s"""WITH n AS (SELECT vec_id, embedding,
              |    sqrt(${DuckSql.dot("embedding", "embedding", Dims)}) AS nrm
              |  FROM embeddings WHERE vec_id < 300),
              |p AS (SELECT round(${DuckSql.dot("a.embedding", "b.embedding", Dims)}
              |        / (a.nrm * b.nrm), 6) AS cos
              |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
              |SELECT COUNT(*) AS n_pairs,
              |  COUNT(CASE WHEN cos >= 0.9 THEN 1 END) AS n_neardup,
              |  COUNT(CASE WHEN cos >= 0.5 THEN 1 END) AS n_similar,
              |  MAX(cos) AS max_cos FROM p""".stripMargin)),

    // ---- IVF-style ANN (scale path beside LSH): coarse quantizer =
    // deterministic seed centroids (first nlist vectors by id), each
    // vector assigned to nearest centroid; queries probe only their
    // cell. Here: cell histogram + per-cell mean distance-to-centroid.
    QueryDef(
      "t15_ann_ivf_cells",
      (s, dir) => {
        val e = spread(s, Tables(s, dir, "embeddings"))
          .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("v"))
        val cents = Tables(s, dir, "embeddings")
          .filter(col("vec_id") < 8)
          .select(col("vec_id").as("cent_id"),
            VectorOps.asDouble(col("embedding")).as("cv"))
        // narrow map-side-combined argmin (Ann.ivfAssignCells) vs the
        // oracle's row_number window — same (d2, cent_id) total order
        graft.operators.Ann.ivfAssignCells(e, "vec_id", "v",
          cents, "cent_id", "cv")
          .groupBy(col("cell").as("cent_id"))
          .agg(count(lit(1)).as("n_vectors"),
            round(sum(col("d2").cast("decimal(18,6)")).cast("double"), 4)
              .as("sum_dist2"))
      },
      Some {
        val diff = (1 to Dims).map(i =>
          "(CAST(e.embedding[" + i + "] AS DOUBLE) - CAST(c.embedding[" +
            i + "] AS DOUBLE))").map(d => s"$d * $d")
          .mkString("(", " + ", ")")
        s"""WITH assigned AS (
           |  SELECT e.vec_id, c.vec_id AS cent_id, $diff AS dist2,
           |    row_number() OVER (PARTITION BY e.vec_id
           |      ORDER BY $diff ASC, c.vec_id ASC) AS rn
           |  FROM embeddings e, (SELECT * FROM embeddings WHERE vec_id < 8) c)
           |SELECT cent_id, COUNT(*) AS n_vectors,
           |  ROUND(CAST(SUM(CAST(dist2 AS DECIMAL(18,6))) AS DOUBLE), 4)
           |    AS sum_dist2
           |FROM assigned WHERE rn = 1 GROUP BY 1""".stripMargin
      }),

    // ---- IVF centroid training: distributed Lloyd iterations —
    // deterministic first-n init, broadcast-assign, per-dim
    // decimal-exact means, empty cells keep their centroid
    // (operators.Ann.trainCentroids). The oracle replicates TWO full
    // iterations hash-exact; output is the trained centroid matrix.
    QueryDef(
      "t23_ivf_train",
      (s, dir) => {
        // r12: scanned repeatedly by training + encode + search —
        // persist once (see t69's note)
        val e = graft.CacheRegistry.track(
          spread(s, Tables(s, dir, "embeddings"))
            .select(col("vec_id"),
              VectorOps.asDouble(col("embedding")).as("v"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        graft.operators.Ann.trainCentroids(e, "vec_id", "v",
          nlist = 8, iters = 2)
          .select(col("cent_id") +:
            (0 until Dims).map(i => get(col("cv"), lit(i)).as(s"m$i")): _*)
      },
      Some(s"""WITH ${lloydSql(8, 2)}
              |SELECT cent_id, ${(0 until Dims).map(i => s"m$i").mkString(", ")}
              |FROM c2""".stripMargin)),

    // ---- composed IVF ANN search: coarse-quantize -> probe nprobe
    // cells -> exact cosine rerank inside them -> top-k per query
    // (operators.Ann.ivfSearch — t15's quantizer as one end-to-end
    // search), now over TRAINED centroids (Ann.trainCentroids, 2 Lloyd
    // iterations — t23 proves them hash-exact). The oracle replicates
    // training AND every search stage in SQL.
    QueryDef(
      "t17_ann_ivf_search",
      (s, dir) => {
        // r12: scanned repeatedly by training + encode + search —
        // persist once (see t69's note)
        val e = graft.CacheRegistry.track(
          spread(s, Tables(s, dir, "embeddings"))
            .select(col("vec_id"),
              VectorOps.asDouble(col("embedding")).as("v"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val cents = graft.operators.Ann.trainCentroids(e, "vec_id", "v",
          nlist = 8, iters = 2)
        val probes = Tables(s, dir, "embeddings")
          .filter(col("vec_id") < 5)
          .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("v"))
        graft.operators.Ann.ivfSearch(e, "vec_id", "v", probes,
          cents, "cent_id", "cv", k = 3, nprobe = 2)
      },
      Some {
        s"""WITH ${lloydSql(8, 2)},
           |cents AS (SELECT * FROM c2),
           |assigned AS (
           |  SELECT e.vec_id AS c_id, c.cent_id AS cell,
           |    row_number() OVER (PARTITION BY e.vec_id
           |      ORDER BY ${d2Trained("e", "c")} ASC, c.cent_id ASC) AS rn
           |  FROM embeddings e, cents c),
           |cells AS (SELECT c_id, cell FROM assigned WHERE rn = 1),
           |pcells AS (
           |  SELECT p.vec_id AS p_id, c.cent_id AS cell,
           |    row_number() OVER (PARTITION BY p.vec_id
           |      ORDER BY ${d2Trained("p", "c")} ASC, c.cent_id ASC) AS rn
           |  FROM (SELECT * FROM embeddings WHERE vec_id < 5) p, cents c),
           |n AS (SELECT vec_id, embedding,
           |    sqrt(${DuckSql.dot("embedding", "embedding", Dims)}) AS nrm
           |  FROM embeddings),
           |cand AS (
           |  SELECT pc.p_id, cl.c_id,
           |    round(${DuckSql.dot("pe.embedding", "ce.embedding", Dims)}
           |          / (pe.nrm * ce.nrm), 6) AS cos
           |  FROM (SELECT p_id, cell FROM pcells WHERE rn <= 2) pc
           |  JOIN cells cl ON cl.cell = pc.cell AND cl.c_id <> pc.p_id
           |  JOIN n pe ON pe.vec_id = pc.p_id
           |  JOIN n ce ON ce.vec_id = cl.c_id)
           |SELECT p_id, rn, c_id, cos FROM (
           |  SELECT *, row_number() OVER (PARTITION BY p_id
           |    ORDER BY cos DESC, c_id ASC) AS rn FROM cand)
           |WHERE rn <= 3""".stripMargin
      }),

    // ---- end-to-end embedding near-dup dedup: multi-table SRP-LSH
    // candidates -> exact cosine verify -> keep-min-id
    // (operators.NearDup.dedupByEmbedding). Closes the dedup family:
    // the exact pairwise cosine (t14's math) now runs ONLY behind the
    // LSH prefilter as one operator. Oracle replicates table
    // signatures, candidate join, cosine verify, removal policy.
    // threshold=0.4: the synthetic embeddings are near-orthogonal
    // (max pairwise cosine 0.513 — no true near-dups), so the gate
    // lowers the bar until the removal path actually fires (35
    // vectors removed); production near-dup runs use ~0.9.
    QueryDef(
      "t20_embedding_dedup",
      (s, dir) => graft.operators.NearDup.dedupByEmbedding(
        spread(s, Tables(s, dir, "embeddings"))
          .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("v")),
        "vec_id", "v", threshold = 0.4, dims = Dims)
        .select(col("vec_id")),
      Some {
        val tables = 4; val ppt = 4
        val bandSelects = (0 until tables).map { t =>
          val sig = (0 until ppt).map { j =>
            val w = (0 until Dims).map(i => VectorOps.lshWeight(t * ppt + j, i))
            s"(CASE WHEN ${DuckSql.dotWeights("embedding", w)} > 0 THEN ${1L << j} ELSE 0 END)"
          }.mkString(" + ")
          s"SELECT vec_id, $t AS band_id, $sig AS band_hash FROM embeddings"
        }.mkString(" UNION ALL ")
        s"""WITH bands AS ($bandSelects),
           |cands AS (SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
           |  FROM bands a JOIN bands b
           |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
           |   AND a.vec_id < b.vec_id),
           |n AS (SELECT vec_id, embedding,
           |    sqrt(${DuckSql.dot("embedding", "embedding", Dims)}) AS nrm
           |  FROM embeddings),
           |removed AS (SELECT DISTINCT d2 FROM cands
           |  JOIN n a ON a.vec_id = cands.d1
           |  JOIN n b ON b.vec_id = cands.d2
           |  WHERE round(${DuckSql.dot("a.embedding", "b.embedding", Dims)}
           |        / (a.nrm * b.nrm), 6) >= 0.4)
           |SELECT vec_id FROM embeddings
           |WHERE vec_id NOT IN (SELECT d2 FROM removed)""".stripMargin
      }),

    // ---- end-to-end corpus curation (operators.Curate): quality gate
    // -> language filter -> exact dedup -> MinHash near-dup, composed.
    // Oracle replicates all four stages over CTEs; the signature SQL
    // runs over the curated relation, not raw documents.
    QueryDef(
      "t19_curate_survivors",
      (s, dir) => graft.operators.Curate.curate(
        spread(s, docs(s, dir)), "doc_id", "text")
        .select(col("doc_id")),
      Some {
        val bands = minhashBandsSqlFrom("curated")
        s"""WITH toks0 AS (SELECT doc_id, $toksSql AS tk FROM documents),
           |q AS (SELECT doc_id FROM toks0
           |  WHERE len(tk) BETWEEN 20 AND 100000
           |    AND round(CAST(len(list_filter(tk, t -> t IN ${inList(TextOps.StopwordsEn)})) AS DOUBLE)
           |        / len(tk), 4) <= 0.15
           |    AND len(list_filter(tk, t -> t IN ${inList(TextOps.StopwordsEn)}))
           |        <> len(list_filter(tk, t -> t IN ${inList(TextOps.StopwordsEs)}))),
           |exact AS (SELECT d.doc_id, d.text,
           |    row_number() OVER (PARTITION BY md5(lower(trim(d.text)))
           |      ORDER BY d.doc_id ASC) AS rn
           |  FROM documents d JOIN q USING (doc_id)),
           |curated AS (SELECT doc_id, text FROM exact WHERE rn = 1),
           |bands AS ($bands),
           |cands AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
           |  FROM bands a JOIN bands b
           |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
           |   AND a.doc_id < b.doc_id),
           |sh AS (SELECT doc_id, ${DuckSql.shingles3(toksSql)} AS s
           |  FROM curated),
           |removed AS (SELECT DISTINCT d2 FROM cands
           |  JOIN sh s1 ON s1.doc_id = cands.d1
           |  JOIN sh s2 ON s2.doc_id = cands.d2
           |  WHERE CAST(len(list_intersect(s1.s, s2.s)) AS DOUBLE)
           |        / len(list_distinct(list_concat(s1.s, s2.s))) >= 0.8)
           |SELECT doc_id FROM curated
           |WHERE doc_id NOT IN (SELECT d2 FROM removed)""".stripMargin
      }),

    // ---- curation funnel report: one row of per-stage survivor counts
    // (operators.Curate.curateStats) — the observability twin of t19;
    // a curation run without its funnel numbers is unreviewable.
    QueryDef(
      "t21_curate_stats",
      (s, dir) => graft.operators.Curate.curateStats(
        spread(s, docs(s, dir)), "doc_id", "text"),
      Some {
        val bands = minhashBandsSqlFrom("curated")
        s"""WITH toks0 AS (SELECT doc_id, $toksSql AS tk FROM documents),
           |q AS (SELECT doc_id FROM toks0
           |  WHERE len(tk) BETWEEN 20 AND 100000
           |    AND round(CAST(len(list_filter(tk, t -> t IN ${inList(TextOps.StopwordsEn)})) AS DOUBLE)
           |        / len(tk), 4) <= 0.15),
           |l AS (SELECT q.doc_id FROM q JOIN toks0 USING (doc_id)
           |  WHERE len(list_filter(tk, t -> t IN ${inList(TextOps.StopwordsEn)}))
           |     <> len(list_filter(tk, t -> t IN ${inList(TextOps.StopwordsEs)}))),
           |exact AS (SELECT d.doc_id, d.text,
           |    row_number() OVER (PARTITION BY md5(lower(trim(d.text)))
           |      ORDER BY d.doc_id ASC) AS rn
           |  FROM documents d JOIN l USING (doc_id)),
           |curated AS (SELECT doc_id, text FROM exact WHERE rn = 1),
           |bands AS ($bands),
           |cands AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
           |  FROM bands a JOIN bands b
           |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
           |   AND a.doc_id < b.doc_id),
           |sh AS (SELECT doc_id, ${DuckSql.shingles3(toksSql)} AS s
           |  FROM curated),
           |removed AS (SELECT DISTINCT d2 FROM cands
           |  JOIN sh s1 ON s1.doc_id = cands.d1
           |  JOIN sh s2 ON s2.doc_id = cands.d2
           |  WHERE CAST(len(list_intersect(s1.s, s2.s)) AS DOUBLE)
           |        / len(list_distinct(list_concat(s1.s, s2.s))) >= 0.8)
           |SELECT
           |  (SELECT COUNT(*) FROM documents) AS n_input,
           |  (SELECT COUNT(*) FROM q) AS n_quality,
           |  (SELECT COUNT(*) FROM l) AS n_lang,
           |  (SELECT COUNT(*) FROM curated) AS n_exact,
           |  (SELECT COUNT(*) FROM curated
           |   WHERE doc_id NOT IN (SELECT d2 FROM removed)) AS n_final"""
          .stripMargin
      }),

    // ---- embedding stats per label (centroid-norm shape; decimal-exact sum)
    QueryDef(
      "t13_embedding_stats",
      (s, dir) => Tables(s, dir, "embeddings")
        .select(col("label"),
          VectorOps.norm2(VectorOps.asDouble(col("embedding")))
            .cast("decimal(18,6)").as("norm2"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"), sum("norm2").cast("double").as("sum_norm2")),
      Some(s"""SELECT label, COUNT(*) AS n,
              |  CAST(SUM(CAST(${DuckSql.dot("embedding", "embedding", Dims)}
              |       AS DECIMAL(18,6))) AS DOUBLE) AS sum_norm2
              |FROM embeddings GROUP BY 1""".stripMargin)),

    // ---- paired-block simhash candidate pairs: the Manku-style
    // banding NearDup.simhashBandsPaired actually uses inside
    // dedupBySimhash, gated on its own — the oracle replicates the
    // 5-block (13/13/13/13/12-bit) pair packing arithmetically, so
    // the gate proves block extraction, injective packing, and the
    // candidate join bit-for-bit. (DuckDB's signed >> then & mask
    // equals Spark's unsigned shift then mask: mask width never
    // exceeds 64-off, so sign-extended bits are always masked off.)
    QueryDef(
      "t25_simhash_paired_pairs",
      (s, dir) => graft.operators.NearDup.candidatePairs(
        graft.operators.NearDup.simhashBandsPaired(
          graft.operators.NearDup.simhash64(
            spread(s, docs(s, dir)), "doc_id", "text"), "doc_id"),
        "doc_id", maxBucket = 1024)
        .agg(count(lit(1)).as("n_candidate_pairs")),
      Some(s"""WITH sig AS ($simhashSql),
              |bands AS (${pairedBandSelectsSql("sig")})
              |SELECT COUNT(*) AS n_candidate_pairs FROM (
              |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
              |  FROM bands a JOIN bands b
              |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
              |   AND a.doc_id < b.doc_id)""".stripMargin)),

    // ---- incremental SimHash dedup (operators.NearDup
    // .dedupBySimhashIncremental) gated by splitting the corpus on id
    // parity: even docs are the existing corpus (band table
    // materialized first), odd docs arrive as the increment. The
    // oracle states the POLICY directly — an odd doc is dropped iff
    // some even doc or some smaller odd doc is within hamming 3 —
    // which equals the operator's banded computation because paired-
    // block banding is recall-complete at radius 3 and the verify is
    // exact.
    QueryDef(
      "t26_simhash_incremental",
      (s, dir) => {
        val d = spread(s, docs(s, dir))
        val ex = d.filter(col("doc_id") % 2 === 0)
        val in = d.filter(col("doc_id") % 2 === 1)
        val exBands = graft.operators.NearDup.simhashBandsPaired(
          graft.operators.NearDup.simhash64(ex, "doc_id", "text"),
          "doc_id")
        graft.operators.NearDup.dedupBySimhashIncremental(
          in, "doc_id", "text", exBands).select(col("doc_id"))
      },
      Some(s"""WITH sig AS ($simhashSql),
              |removed AS (SELECT DISTINCT i.doc_id FROM sig i JOIN sig o
              |  ON i.doc_id % 2 = 1 AND o.doc_id <> i.doc_id
              | AND (o.doc_id % 2 = 0 OR o.doc_id < i.doc_id)
              | AND bit_count(xor(i.simhash, o.simhash)) <= 3)
              |SELECT doc_id FROM documents WHERE doc_id % 2 = 1
              |  AND doc_id NOT IN (SELECT doc_id FROM removed)"""
        .stripMargin)),

    // ---- incremental MinHash dedup (operators.NearDup
    // .dedupByMinhashIncremental) gated the same way: even docs are
    // canonical with their band table materialized, odd docs dedup
    // against them and themselves. MinHash banding is probabilistic,
    // so the oracle replicates the banded candidate generation (same
    // signatures as t07) restricted to the incremental pair shape —
    // odd vs even, or odd vs smaller odd — then the exact-Jaccard
    // verify and removal.
    QueryDef(
      "t27_minhash_incremental",
      (s, dir) => {
        val d = spread(s, docs(s, dir))
        val ex = d.filter(col("doc_id") % 2 === 0)
        val in = d.filter(col("doc_id") % 2 === 1)
        val exBands = graft.operators.NearDup.minhashBands(
          ex, "doc_id", "text", MinhashK, Bands)
        graft.operators.NearDup.dedupByMinhashIncremental(
          in, "doc_id", "text", exBands, ex, threshold = 0.8,
          k = MinhashK, bands = Bands).select(col("doc_id"))
      },
      Some(s"""WITH bands AS ($minhashBandsSql),
              |sh AS (SELECT doc_id, ${DuckSql.shingles3(toksSql)} AS s
              |  FROM documents),
              |cand AS (SELECT DISTINCT i.doc_id AS di, o.doc_id AS dx
              |  FROM bands i JOIN bands o
              |    ON i.band_id = o.band_id AND i.band_hash = o.band_hash
              |   AND i.doc_id % 2 = 1 AND o.doc_id <> i.doc_id
              |   AND (o.doc_id % 2 = 0 OR o.doc_id < i.doc_id)),
              |removed AS (SELECT DISTINCT di FROM cand
              |  JOIN sh s1 ON s1.doc_id = cand.di
              |  JOIN sh s2 ON s2.doc_id = cand.dx
              |  WHERE CAST(len(list_intersect(s1.s, s2.s)) AS DOUBLE)
              |        / len(list_distinct(list_concat(s1.s, s2.s))) >= 0.8)
              |SELECT doc_id FROM documents WHERE doc_id % 2 = 1
              |  AND doc_id NOT IN (SELECT di FROM removed)"""
        .stripMargin)),

    // ---- product-quantization codebook training + corpus encode
    // (operators.Ann.trainPq / pqEncode): per-subspace distributed
    // Lloyd with deterministic first-ksub init and floor(x·10⁶)-exact
    // means — the memory side of 100-TB ANN (a 64-dim float vector
    // becomes m=4 byte-codes). The oracle replicates the FULL training
    // (2 iterations, every subspace) and the final assignment
    // hash-exact, like t23 does for the coarse quantizer.
    QueryDef(
      "t28_pq_encode",
      (s, dir) => {
        // r12: scanned repeatedly by training + encode + search —
        // persist once (see t69's note)
        val e = graft.CacheRegistry.track(
          spread(s, Tables(s, dir, "embeddings"))
            .select(col("vec_id"),
              VectorOps.asDouble(col("embedding")).as("v"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val books = graft.operators.Ann.trainPq(e, "vec_id", "v",
          PqM, PqDsub, PqKsub, PqIters)
        graft.operators.Ann.pqEncode(e, "vec_id", "v", books, PqM, PqDsub)
          .select(col("vec_id") +:
            (0 until PqM).map(i => get(col("codes"), lit(i)).as(s"c$i")): _*)
      },
      Some {
        val pivot = (0 until PqM)
          .map(i => s"MAX(CASE WHEN sub = $i THEN code END) AS c$i")
          .mkString(", ")
        s"""WITH ${pqLloydSql(PqM, PqDsub, PqKsub, PqIters)},
           |enc AS (SELECT e.vec_id, c.sub, c.code,
           |    row_number() OVER (PARTITION BY e.vec_id, c.sub
           |      ORDER BY ${pqD2Sql("e", "c", PqDsub)} ASC, c.code ASC) AS rn
           |  FROM embeddings e, b$PqIters c)
           |SELECT vec_id, $pivot FROM enc WHERE rn = 1 GROUP BY vec_id"""
          .stripMargin
      }),

    // ---- ADC search over the PQ-encoded corpus (operators.Ann
    // .pqSearchAdc): per-probe lookup table of sub-distances to every
    // codeword, candidate distance = Σ_s LUT[s][code_s] — the corpus
    // scan touches only the (id, codes) frame, never raw vectors. The
    // oracle replicates training, encode, LUT, the 4-term left-assoc
    // distance sum, and the (ad2, id) top-k order.
    QueryDef(
      "t29_pq_search",
      (s, dir) => {
        // r12: scanned repeatedly by training + encode + search —
        // persist once (see t69's note)
        val e = graft.CacheRegistry.track(
          spread(s, Tables(s, dir, "embeddings"))
            .select(col("vec_id"),
              VectorOps.asDouble(col("embedding")).as("v"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val books = graft.operators.Ann.trainPq(e, "vec_id", "v",
          PqM, PqDsub, PqKsub, PqIters)
        val codes = graft.operators.Ann.pqEncode(e, "vec_id", "v",
          books, PqM, PqDsub)
        val probes = Tables(s, dir, "embeddings")
          .filter(col("vec_id") < 5)
          .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("v"))
        graft.operators.Ann.pqSearchAdc(codes, "vec_id", probes,
          "vec_id", "v", books, PqM, PqDsub, k = 3)
      },
      Some {
        val pdSum = (0 until PqM).map(i => s"pd$i").mkString(" + ")
        val pivotPd = (0 until PqM)
          .map(i => s"MAX(CASE WHEN e.sub = $i THEN l.pd END) AS pd$i")
          .mkString(", ")
        s"""WITH ${pqLloydSql(PqM, PqDsub, PqKsub, PqIters)},
           |enc AS (SELECT vec_id, sub, code FROM (
           |  SELECT e.vec_id, c.sub, c.code,
           |    row_number() OVER (PARTITION BY e.vec_id, c.sub
           |      ORDER BY ${pqD2Sql("e", "c", PqDsub)} ASC, c.code ASC) AS rn
           |  FROM embeddings e, b$PqIters c) WHERE rn = 1),
           |lut AS (SELECT p.vec_id AS p_id, c.sub, c.code,
           |    ${pqD2Sql("p", "c", PqDsub)} AS pd
           |  FROM (SELECT * FROM embeddings WHERE vec_id < 5) p,
           |       b$PqIters c),
           |j AS (SELECT l.p_id, e.vec_id AS c_id, $pivotPd
           |  FROM enc e JOIN lut l ON l.sub = e.sub AND l.code = e.code
           |  WHERE e.vec_id <> l.p_id GROUP BY l.p_id, e.vec_id),
           |scored AS (SELECT p_id, c_id, round($pdSum, 6) AS ad2 FROM j)
           |SELECT p_id, rn, c_id, ad2 FROM (
           |  SELECT *, row_number() OVER (PARTITION BY p_id
           |    ORDER BY ad2 ASC, c_id ASC) AS rn FROM scored)
           |WHERE rn <= 3""".stripMargin
      }),

    // ---- deterministic stratified hash sampling + split assignment
    // (operators.Sample): corpus mixing by per-language rates (salted
    // md5 bucket of the id — row-local, partitioning-independent,
    // coordinated across tables) and disjoint train/val/test split
    // ranges over the survivors. Rates/bounds are floor-quantized to
    // 10⁻⁶ by the SAME Scala expression that the oracle literals are
    // generated from, so both engines compare against identical
    // integers. es is deliberately absent from the rates map (rate-0
    // strata drop via the inner broadcast join).
    QueryDef(
      "t30_hash_sample",
      (s, dir) => {
        val sampled = graft.operators.Sample.stratifiedSample(
          docs(s, dir), "doc_id", "lang", SampleRates, "graft")
        graft.operators.Sample.hashSplit(sampled, "doc_id",
          SplitFractions, "graft-split")
          .select("doc_id", "lang", "split")
      },
      Some {
        val rateRows = SampleRates.toSeq.sorted.map { case (k, f) =>
          s"('$k', ${(f * graft.operators.Sample.Buckets).toLong})"
        }.mkString(", ")
        val bounds = graft.operators.Sample.splitBounds(SplitFractions)
        val splitCase = SplitFractions.indices.map { i =>
          s"WHEN sb >= ${bounds(i)} AND sb < ${bounds(i + 1)} THEN $i"
        }.mkString("CASE ", " ", " ELSE -1 END")
        val bucket = DuckSql.hexToLong(
          "md5('graft|' || CAST(d.doc_id AS VARCHAR))", 8)
        val sbucket = DuckSql.hexToLong(
          "md5('graft-split|' || CAST(doc_id AS VARCHAR))", 8)
        s"""WITH rates(lang, rb) AS (VALUES $rateRows),
           |sampled AS (
           |  SELECT d.doc_id, d.lang FROM documents d
           |  JOIN rates r ON r.lang = d.lang
           |  WHERE $bucket % 1000000 < r.rb),
           |sb AS (SELECT doc_id, lang, $sbucket % 1000000 AS sb
           |  FROM sampled)
           |SELECT doc_id, lang, $splitCase AS split FROM sb"""
          .stripMargin
      }),

    // ---- TF-IDF top-k keywords (operators.Keywords.tfidfTopK):
    // corpus-statistics document fingerprinting — one explode feeds
    // both aggregates (document frequency derives from the already-
    // aggregated tf frame, so token instances shuffle once). ln is
    // bit-identical between the JVM and DuckDB on every ratio
    // (N+1)/(df+1) this corpus produces (verified exhaustively for
    // df in [0, N]), and the score rounds to 6 before the (score desc,
    // token asc) top-k order.
    QueryDef(
      "t31_tfidf_topk",
      (s, dir) => graft.operators.Keywords.tfidfTopK(
        spread(s, docs(s, dir)), "doc_id", "text", k = 5),
      Some(s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS token
              |  FROM documents),
              |tf AS (SELECT doc_id, token, COUNT(*) AS tf
              |  FROM t GROUP BY 1, 2),
              |dfreq AS (SELECT token, COUNT(*) AS dfreq
              |  FROM tf GROUP BY 1),
              |n AS (SELECT COUNT(*) AS n FROM documents),
              |scored AS (SELECT doc_id, token,
              |    round(tf * ln((n.n + 1) / (dfreq + 1.0)), 6) AS score
              |  FROM tf JOIN dfreq USING (token), n)
              |SELECT doc_id, rank, token, score FROM (
              |  SELECT doc_id, token, score, row_number() OVER (
              |    PARTITION BY doc_id ORDER BY score DESC, token ASC)
              |    AS rank FROM scored)
              |WHERE rank <= 5""".stripMargin)),

    // ---- repeated n-gram span statistics (operators.SpanStats
    // .duplicatedNgramStats): the substring-level duplication signal
    // document-level dedup misses — per doc, how many sliding 5-token
    // spans also occur elsewhere in the corpus (self-repetition
    // included). Span instances aggregate to (doc, gram)
    // multiplicities before any shuffle; global counts and the join
    // back reuse that frame.
    QueryDef(
      "t32_ngram_spans",
      (s, dir) => graft.operators.SpanStats.duplicatedNgramStats(
        spread(s, docs(s, dir)), "doc_id", "text", n = 5),
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
              |g AS (SELECT doc_id,
              |    unnest(${DuckSql.ngramsRaw("toks", 5)}) AS gram FROM t),
              |loc AS (SELECT doc_id, gram, COUNT(*) AS c_local
              |  FROM g GROUP BY 1, 2),
              |tot AS (SELECT gram, CAST(SUM(c_local) AS BIGINT) AS c_glob
              |  FROM loc GROUP BY 1)
              |SELECT doc_id,
              |  CAST(SUM(c_local) AS BIGINT) AS n_spans,
              |  CAST(SUM(CASE WHEN c_glob > 1 THEN c_local ELSE 0 END)
              |    AS BIGINT) AS n_dup_spans,
              |  round(CAST(SUM(CASE WHEN c_glob > 1 THEN c_local ELSE 0 END)
              |      AS DOUBLE)
              |    / CAST(SUM(c_local) AS DOUBLE), 6) AS dup_ratio
              |FROM loc JOIN tot USING (gram) GROUP BY doc_id"""
        .stripMargin)),

    // ---- token-budget sequence packing (operators.Pack.packByBudget):
    // shard = exclusive-prefix-tokens DIV budget in id order, computed
    // as a TWO-LEVEL prefix sum (range-bucket totals -> driver offsets
    // -> bucket-local windows) so no task ever sees more than
    // corpus/nBuckets rows — the oracle is the single-partition window
    // the operator deliberately avoids, proving the decomposition
    // exact. nBuckets=7 at sf0.01 exercises >1 bucket.
    QueryDef(
      "t33_pack_shards",
      (s, dir) => graft.operators.Pack.packByBudget(
        spread(s, docs(s, dir))
          .select(col("doc_id"),
            graft.functions.Bpe.tokenCount(col("text"),
              graft.functions.Bpe.GateMerges).as("n_tokens")),
        "doc_id", "n_tokens", budget = 2000L, nBuckets = 7)
        .select("doc_id", "n_tokens", "shard"),
      Some(s"""WITH RECURSIVE
              |${graft.functions.Bpe.duckSql(
                  graft.functions.Bpe.GateMerges,
                  "documents", "doc_id", "text")},
              |t AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens
              |  FROM __bpe_counts)
              |SELECT doc_id, n_tokens,
              |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              |    0) // 2000 AS BIGINT) AS shard
              |FROM t""".stripMargin)),

    // ---- composed IVF-PQ search (operators.Ann.ivfPqSearch): the
    // production ANN shape — trained coarse quantizer prunes to nprobe
    // cells, trained PQ codebooks score candidates by ADC lookup; the
    // raw corpus is never read at query time. The oracle composes the
    // two independently-gated trainings (t23's Lloyd chain + t28's
    // per-subspace chain share one WITH clause) and replicates cell
    // pruning, encode, LUT, and the top-k order end-to-end.
    QueryDef(
      "t34_ivfpq_search",
      (s, dir) => {
        // r12: scanned repeatedly by training + encode + search —
        // persist once (see t69's note)
        val e = graft.CacheRegistry.track(
          spread(s, Tables(s, dir, "embeddings"))
            .select(col("vec_id"),
              VectorOps.asDouble(col("embedding")).as("v"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val cents = graft.operators.Ann.trainCentroids(e, "vec_id", "v",
          nlist = 8, iters = 2)
        val books = graft.operators.Ann.trainPq(e, "vec_id", "v",
          PqM, PqDsub, PqKsub, PqIters)
        val probes = Tables(s, dir, "embeddings")
          .filter(col("vec_id") < 5)
          .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("v"))
        graft.operators.Ann.ivfPqSearch(e, "vec_id", "v", probes,
          cents, "cent_id", "cv", books, PqM, PqDsub, k = 3, nprobe = 2)
      },
      Some {
        val pdSum = (0 until PqM).map(i => s"pd$i").mkString(" + ")
        val pivotPd = (0 until PqM)
          .map(i => s"MAX(CASE WHEN e.sub = $i THEN l.pd END) AS pd$i")
          .mkString(", ")
        s"""WITH ${lloydSql(8, 2)},
           |${pqLloydSql(PqM, PqDsub, PqKsub, PqIters)},
           |cents AS (SELECT * FROM c2),
           |cells AS (SELECT c_id, cell FROM (
           |  SELECT e.vec_id AS c_id, c.cent_id AS cell,
           |    row_number() OVER (PARTITION BY e.vec_id
           |      ORDER BY ${d2Trained("e", "c")} ASC, c.cent_id ASC) AS rn
           |  FROM embeddings e, cents c) WHERE rn = 1),
           |pcells AS (SELECT p_id, cell FROM (
           |  SELECT p.vec_id AS p_id, c.cent_id AS cell,
           |    row_number() OVER (PARTITION BY p.vec_id
           |      ORDER BY ${d2Trained("p", "c")} ASC, c.cent_id ASC) AS rn
           |  FROM (SELECT * FROM embeddings WHERE vec_id < 5) p, cents c)
           |  WHERE rn <= 2),
           |enc AS (SELECT vec_id, sub, code FROM (
           |  SELECT e.vec_id, c.sub, c.code,
           |    row_number() OVER (PARTITION BY e.vec_id, c.sub
           |      ORDER BY ${pqD2Sql("e", "c", PqDsub)} ASC, c.code ASC) AS rn
           |  FROM embeddings e, b$PqIters c) WHERE rn = 1),
           |lut AS (SELECT p.vec_id AS p_id, c.sub, c.code,
           |    ${pqD2Sql("p", "c", PqDsub)} AS pd
           |  FROM (SELECT * FROM embeddings WHERE vec_id < 5) p,
           |       b$PqIters c),
           |j AS (SELECT l.p_id, e.vec_id AS c_id, $pivotPd
           |  FROM enc e
           |  JOIN cells cl ON cl.c_id = e.vec_id
           |  JOIN pcells pc ON pc.cell = cl.cell
           |  JOIN lut l ON l.sub = e.sub AND l.code = e.code
           |    AND l.p_id = pc.p_id
           |  WHERE e.vec_id <> pc.p_id GROUP BY l.p_id, e.vec_id),
           |scored AS (SELECT p_id, c_id, round($pdSum, 6) AS ad2 FROM j)
           |SELECT p_id, rn, c_id, ad2 FROM (
           |  SELECT *, row_number() OVER (PARTITION BY p_id
           |    ORDER BY ad2 ASC, c_id ASC) AS rn FROM scored)
           |WHERE rn <= 3""".stripMargin
      }),

    // ---- RESIDUAL IVF-PQ search (operators.Ann.ivfPqSearchResidual):
    // the FAISS-IndexIVFPQ design — one shared PQ codebook trained on
    // v − centroid(cell), lookup tables per (probe, probed cell). The
    // oracle builds the residual corpus as a CTE (coarse Lloyd chain →
    // assignment → per-dim subtraction), trains the codebooks on it
    // with the SAME generated chain as t28 (pqLloydSqlFrom), and
    // replicates encode, the per-cell LUTs, and the top-k order.
    QueryDef(
      "t35_ivfpq_residual",
      (s, dir) => {
        // r12: scanned repeatedly by training + encode + search —
        // persist once (see t69's note)
        val e = graft.CacheRegistry.track(
          spread(s, Tables(s, dir, "embeddings"))
            .select(col("vec_id"),
              VectorOps.asDouble(col("embedding")).as("v"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val cents = graft.operators.Ann.trainCentroids(e, "vec_id", "v",
          nlist = 8, iters = 2)
        val books = graft.operators.Ann.trainPqResidual(e, "vec_id", "v",
          cents, "cent_id", "cv", PqM, PqDsub, PqKsub, PqIters)
        val probes = Tables(s, dir, "embeddings")
          .filter(col("vec_id") < 5)
          .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("v"))
        graft.operators.Ann.ivfPqSearchResidual(e, "vec_id", "v", probes,
          cents, "cent_id", "cv", books, PqM, PqDsub, k = 3, nprobe = 2)
      },
      Some {
        val pdSum = (0 until PqM).map(i => s"pd$i").mkString(" + ")
        val pivotPd = (0 until PqM)
          .map(i => s"MAX(CASE WHEN e.sub = $i THEN l.pd END) AS pd$i")
          .mkString(", ")
        def residList(v: String, c: String) = (1 to Dims)
          .map(i => s"CAST($v.embedding[$i] AS DOUBLE) - $c.m${i - 1}")
          .mkString("list_value(", ", ", ")")
        // Every CTE downstream of the two Lloyd chains is MATERIALIZED
        // and the codebook is staged once as `books`: DuckDB inlines
        // non-materialized CTEs, and each re-inlined copy of a chain
        // re-executes its windows — the original form needed ~520 MB
        // (OOM under the gate's budget), this one ~116 MB, bit-identical.
        s"""WITH ${lloydSql(8, 2)},
           |cents AS MATERIALIZED (SELECT * FROM c2),
           |cells AS MATERIALIZED (SELECT c_id, cell FROM (
           |  SELECT e.vec_id AS c_id, c.cent_id AS cell,
           |    row_number() OVER (PARTITION BY e.vec_id
           |      ORDER BY ${d2Trained("e", "c")} ASC, c.cent_id ASC) AS rn
           |  FROM embeddings e, cents c) WHERE rn = 1),
           |resid AS MATERIALIZED (SELECT e.vec_id, cl.cell,
           |    ${residList("e", "c")} AS rv
           |  FROM embeddings e
           |  JOIN cells cl ON cl.c_id = e.vec_id
           |  JOIN cents c ON c.cent_id = cl.cell),
           |${pqLloydSqlFrom("resid", "rv", PqM, PqDsub, PqKsub, PqIters)},
           |books AS MATERIALIZED (SELECT * FROM b$PqIters),
           |enc AS MATERIALIZED (SELECT vec_id, cell, sub, code FROM (
           |  SELECT e.vec_id, e.cell, c.sub, c.code,
           |    row_number() OVER (PARTITION BY e.vec_id, c.sub
           |      ORDER BY ${pqD2SqlOn("e", "rv", "c", PqDsub)} ASC,
           |        c.code ASC) AS rn
           |  FROM resid e, books c) WHERE rn = 1),
           |pcells AS (SELECT p_id, cell FROM (
           |  SELECT p.vec_id AS p_id, c.cent_id AS cell,
           |    row_number() OVER (PARTITION BY p.vec_id
           |      ORDER BY ${d2Trained("p", "c")} ASC, c.cent_id ASC) AS rn
           |  FROM (SELECT * FROM embeddings WHERE vec_id < 5) p, cents c)
           |  WHERE rn <= 2),
           |presid AS MATERIALIZED (SELECT pc.p_id, pc.cell,
           |    ${residList("p", "c")} AS prv
           |  FROM pcells pc
           |  JOIN embeddings p ON p.vec_id = pc.p_id
           |  JOIN cents c ON c.cent_id = pc.cell),
           |lut AS MATERIALIZED (SELECT pr.p_id, pr.cell, c.sub, c.code,
           |    ${pqD2SqlOn("pr", "prv", "c", PqDsub)} AS pd
           |  FROM presid pr, books c),
           |j AS (SELECT l.p_id, e.vec_id AS c_id, $pivotPd
           |  FROM enc e
           |  JOIN lut l ON l.cell = e.cell AND l.sub = e.sub
           |    AND l.code = e.code
           |  WHERE e.vec_id <> l.p_id GROUP BY l.p_id, e.vec_id),
           |scored AS (SELECT p_id, c_id, round($pdSum, 6) AS ad2 FROM j)
           |SELECT p_id, rn, c_id, ad2 FROM (
           |  SELECT *, row_number() OVER (PARTITION BY p_id
           |    ORDER BY ad2 ASC, c_id ASC) AS rn FROM scored)
           |WHERE rn <= 3""".stripMargin
      }),

    // ---- benchmark decontamination (operators.SpanStats
    // .contamination): per-document 5-token-span overlap against a
    // benchmark set (docs with id % 10 = 0 stand in for the eval
    // corpus) — the standard eval-leakage check before training.
    // Benchmark grams are distinct + broadcast; total span counts are
    // row-local array sizes (never exploded).
    QueryDef(
      "t36_contamination",
      (s, dir) => {
        val d = spread(s, docs(s, dir))
        graft.operators.SpanStats.contamination(
          d.filter(col("doc_id") % 10 =!= 0), "doc_id", "text",
          d.filter(col("doc_id") % 10 === 0), "text", n = 5)
      },
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
              |bg AS (SELECT DISTINCT
              |    unnest(${DuckSql.ngramsRaw("toks", 5)}) AS gram
              |  FROM t WHERE doc_id % 10 = 0),
              |tot AS (SELECT doc_id,
              |    CAST(len(${DuckSql.ngramsRaw("toks", 5)}) AS BIGINT)
              |      AS n_spans
              |  FROM t WHERE doc_id % 10 <> 0),
              |g AS (SELECT doc_id,
              |    unnest(${DuckSql.ngramsRaw("toks", 5)}) AS gram
              |  FROM t WHERE doc_id % 10 <> 0),
              |hits AS (SELECT doc_id, COUNT(*) AS n_cont
              |  FROM g JOIN bg USING (gram) GROUP BY 1)
              |SELECT tot.doc_id, tot.n_spans,
              |  COALESCE(h.n_cont, 0) AS n_contaminated,
              |  CASE WHEN tot.n_spans > 0 THEN
              |    round(CAST(COALESCE(h.n_cont, 0) AS DOUBLE)
              |      / CAST(tot.n_spans AS DOUBLE), 6)
              |  ELSE 0.0 END AS contamination_ratio
              |FROM tot LEFT JOIN hits h USING (doc_id)"""
        .stripMargin)),

    // ---- row-local text cleaning (TextOps.cleanText): URL strip,
    // email masking, whitespace collapse — the pre-tokenize
    // normalization pass, patterns restricted to syntax Java regex
    // and RE2 agree on. The corpus text is clean, so the gate
    // synthesizes a dirty suffix (URL + email from row values) and
    // proves both engines normalize it identically.
    QueryDef(
      "t37_clean_text",
      (s, dir) => docs(s, dir)
        .select(col("doc_id"),
          TextOps.cleanText(concat(col("text"),
            lit(" see http://ex.a/"), col("doc_id").cast("string"),
            lit(" or  mail "), col("lang"), lit("@ex.com now")))
            .as("cleaned")),
      Some("""SELECT doc_id,
             |  trim(regexp_replace(regexp_replace(regexp_replace(
             |    text || ' see http://ex.a/' || CAST(doc_id AS VARCHAR)
             |      || ' or  mail ' || lang || '@ex.com now',
             |    'https?://[^ ]+', ' ', 'g'),
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+',
             |      '<email>', 'g'),
             |    '  *', ' ', 'g')) AS cleaned
             |FROM documents""".stripMargin)),

    // ---- token-budget proportional sampling (operators.Sample
    // .sampleToTokenBudget): downsample each language to ~a target
    // token count — rate_buckets = min(10⁶, budget·10⁶ DIV Σtokens)
    // is exact integer arithmetic computed inside the plan, applied
    // as the same salted-bucket decision as t30. en's budget exceeds
    // its total (rate clamps to 1, all rows kept); es is absent from
    // the budgets map (dropped).
    QueryDef(
      "t38_token_budget_sample",
      (s, dir) => graft.operators.Sample.sampleToTokenBudget(
        docs(s, dir)
          .select(col("doc_id"), col("lang"),
            graft.functions.Bpe.tokenCount(col("text"),
              graft.functions.Bpe.GateMerges).as("n_tokens")),
        "doc_id", "lang", "n_tokens", TokenBudgets, "graft")
        .select("doc_id", "lang", "n_tokens"),
      Some {
        val budgetRows = TokenBudgets.toSeq.sorted
          .map { case (k, b) => s"('$k', $b)" }.mkString(", ")
        val bucket = DuckSql.hexToLong(
          "md5('graft|' || CAST(t.doc_id AS VARCHAR))", 8)
        s"""WITH RECURSIVE
           |${graft.functions.Bpe.duckSql(
               graft.functions.Bpe.GateMerges,
               "documents", "doc_id", "text")},
           |t AS (SELECT d.doc_id, d.lang,
           |    CAST(bc.n_tokens AS BIGINT) AS n_tokens
           |  FROM documents d JOIN __bpe_counts bc USING (doc_id)),
           |budgets(lang, budget) AS (VALUES $budgetRows),
           |rates AS (SELECT t.lang,
           |    least(1000000, CAST(b.budget AS BIGINT) * 1000000 // tot)
           |      AS rb
           |  FROM (SELECT lang, SUM(n_tokens) AS tot FROM t GROUP BY 1
           |        HAVING SUM(n_tokens) > 0) t
           |  JOIN budgets b ON b.lang = t.lang)
           |SELECT t.doc_id, t.lang, t.n_tokens
           |FROM t JOIN rates r ON r.lang = t.lang
           |WHERE $bucket % 1000000 < r.rb""".stripMargin
      }),

    // ---- END-TO-END corpus -> training shards
    // (operators.Curate.curateToShards): the one-call composition a
    // pipeline actually runs — curate (quality -> lang -> exact dedup
    // -> minhash near-dup), deterministic 0.8 downsample, token-budget
    // shard packing — against ONE oracle that replays the whole chain:
    // the t19 survivor CTEs, the t30 salted-bucket decision, and the
    // t33 single-window prefix sum the packing operator decomposes.
    QueryDef(
      "t39_curate_to_shards",
      (s, dir) => graft.operators.Curate.curateToShards(
        spread(s, docs(s, dir)), "doc_id", "text",
        shardBudget = 2000L, sampleFraction = 0.8)
        .select("doc_id", "n_tokens", "shard"),
      Some {
        val bands = minhashBandsSqlFrom("curated")
        val bucket = DuckSql.hexToLong(
          "md5('graft|' || CAST(doc_id AS VARCHAR))", 8)
        s"""WITH toks0 AS (SELECT doc_id, $toksSql AS tk FROM documents),
           |q AS (SELECT doc_id FROM toks0
           |  WHERE len(tk) BETWEEN 20 AND 100000
           |    AND round(CAST(len(list_filter(tk, t -> t IN ${inList(TextOps.StopwordsEn)})) AS DOUBLE)
           |        / len(tk), 4) <= 0.15
           |    AND len(list_filter(tk, t -> t IN ${inList(TextOps.StopwordsEn)}))
           |        <> len(list_filter(tk, t -> t IN ${inList(TextOps.StopwordsEs)}))),
           |exact AS (SELECT d.doc_id, d.text,
           |    row_number() OVER (PARTITION BY md5(lower(trim(d.text)))
           |      ORDER BY d.doc_id ASC) AS rn
           |  FROM documents d JOIN q USING (doc_id)),
           |curated AS (SELECT doc_id, text FROM exact WHERE rn = 1),
           |bands AS ($bands),
           |cands AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
           |  FROM bands a JOIN bands b
           |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
           |   AND a.doc_id < b.doc_id),
           |sh AS (SELECT doc_id, ${DuckSql.shingles3(toksSql)} AS s
           |  FROM curated),
           |removed AS (SELECT DISTINCT d2 FROM cands
           |  JOIN sh s1 ON s1.doc_id = cands.d1
           |  JOIN sh s2 ON s2.doc_id = cands.d2
           |  WHERE CAST(len(list_intersect(s1.s, s2.s)) AS DOUBLE)
           |        / len(list_distinct(list_concat(s1.s, s2.s))) >= 0.8),
           |samp AS (SELECT doc_id,
           |    CAST(len($toksSql) AS BIGINT) AS n_tokens
           |  FROM curated
           |  WHERE doc_id NOT IN (SELECT d2 FROM removed)
           |    AND $bucket % 1000000 < 800000)
           |SELECT doc_id, n_tokens,
           |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           |    0) // 2000 AS BIGINT) AS shard
           |FROM samp""".stripMargin
      }),

    // ---- sketch gates. Sketch STATE is engine-specific, so the
    // cross-engine contract is (a) the exact reference values, which
    // DuckDB recomputes independently, and (b) an accuracy verdict:
    // Spark compares its own sketch estimate against the exact value
    // the oracle hash-verifies, and emits a boolean the oracle expects
    // to be TRUE. A drifting sketch flips the boolean and fails the
    // hash — a real gate, not a spec assertion.
    QueryDef(
      "t40_sketch_distinct",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
        val prof = graft.operators.Sketches.distinctProfile(
          li, Seq("l_returnflag"), "l_orderkey", rsd = 0.05)
        val exact = li.groupBy("l_returnflag")
          .agg(countDistinct(col("l_orderkey")).as("exact_distinct"))
        prof.join(exact, "l_returnflag")
          .select(col("l_returnflag"), col("n_rows"),
            col("exact_distinct"),
            (abs(col("approx_distinct") - col("exact_distinct")) <=
              lit(0.15) * col("exact_distinct")).as("ok"))
      },
      Some("""SELECT l_returnflag, COUNT(*) AS n_rows,
             |  COUNT(DISTINCT l_orderkey) AS exact_distinct,
             |  TRUE AS ok
             |FROM lineitem GROUP BY 1""".stripMargin)),

    QueryDef(
      "t41_sketch_quantile",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
        val q = graft.operators.Sketches.quantileProfile(
          li, Seq("l_returnflag"), "l_extendedprice", Seq(0.5, 0.9),
          accuracy = 1000)
        // rank-error check of the GK estimates against the raw rows:
        // count(<= q_p) must reach rank p·n − margin and count(< q_p)
        // must not pass p·n + margin, margin = 2·n/accuracy + 1
        val counts = li.join(broadcast(q), "l_returnflag")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_rows"),
            count(when(col("l_extendedprice") <= col("q_50"), 1))
              .as("__le50"),
            count(when(col("l_extendedprice") < col("q_50"), 1))
              .as("__lt50"),
            count(when(col("l_extendedprice") <= col("q_90"), 1))
              .as("__le90"),
            count(when(col("l_extendedprice") < col("q_90"), 1))
              .as("__lt90"))
        val m = col("n_rows") * 2.0 / 1000.0 + 1.0
        counts.select(col("l_returnflag"), col("n_rows"),
          (col("__le50") >= col("n_rows") * 0.5 - m &&
            col("__lt50") <= col("n_rows") * 0.5 + m).as("ok_q50"),
          (col("__le90") >= col("n_rows") * 0.9 - m &&
            col("__lt90") <= col("n_rows") * 0.9 + m).as("ok_q90"))
      },
      Some("""SELECT l_returnflag, COUNT(*) AS n_rows,
             |  TRUE AS ok_q50, TRUE AS ok_q90
             |FROM lineitem GROUP BY 1""".stripMargin)),

    // ---- embedding-space decontamination (operators.Decontam):
    // paraphrased eval leakage — no shared 5-token spans, but nearest
    // benchmark vector above a cosine floor. Exact variant: benchmark
    // vectors broadcast, one corpus pass, per-doc max. The oracle
    // recomputes every pair cosine independently.
    QueryDef(
      "t42_embedding_contamination",
      (s, dir) => {
        val e = spread(s, Tables(s, dir, "embeddings"))
          .select(col("vec_id"),
            VectorOps.asDouble(col("embedding")).as("v"))
        graft.operators.Decontam.embeddingContamination(
          e.filter(col("vec_id") % 10 =!= 0), "vec_id", "v",
          e.filter(col("vec_id") % 10 === 0), "v", threshold = 0.9)
      },
      Some(s"""WITH n AS (SELECT vec_id, embedding,
              |    sqrt(${DuckSql.dot("embedding", "embedding", Dims)}) AS nrm
              |  FROM embeddings),
              |pairs AS (SELECT c.vec_id,
              |    round(${DuckSql.dot("c.embedding", "b.embedding", Dims)}
              |          / (c.nrm * b.nrm), 6) AS cos
              |  FROM n c, n b
              |  WHERE c.vec_id % 10 <> 0 AND b.vec_id % 10 = 0)
              |SELECT vec_id, MAX(cos) AS max_bench_cos,
              |  MAX(cos) >= 0.9 AS embedding_contaminated
              |FROM pairs GROUP BY vec_id""".stripMargin)),

    // IVF-pruned variant, gated at the nprobe = nlist degenerate point
    // where cell pruning provably changes nothing: the full pruned
    // plan (coarse train, corpus assignment, probe ranking, cell-local
    // scoring) must still reproduce the exact answer bit-for-bit.
    // Sub-degenerate nprobe recall is pinned in DecontamSpec.
    QueryDef(
      "t43_embedding_contamination_ivf",
      (s, dir) => {
        val e = spread(s, Tables(s, dir, "embeddings"))
          .select(col("vec_id"),
            VectorOps.asDouble(col("embedding")).as("v"))
        val cents = graft.operators.Ann.trainCentroids(e, "vec_id", "v",
          nlist = 8, iters = 2)
        graft.operators.Decontam.embeddingContaminationIvf(
          e.filter(col("vec_id") % 10 =!= 0), "vec_id", "v",
          e.filter(col("vec_id") % 10 === 0), "v", threshold = 0.85,
          cents, "cent_id", "cv", nprobe = 8)
      },
      Some(s"""WITH n AS (SELECT vec_id, embedding,
              |    sqrt(${DuckSql.dot("embedding", "embedding", Dims)}) AS nrm
              |  FROM embeddings),
              |pairs AS (SELECT c.vec_id,
              |    round(${DuckSql.dot("c.embedding", "b.embedding", Dims)}
              |          / (c.nrm * b.nrm), 6) AS cos
              |  FROM n c, n b
              |  WHERE c.vec_id % 10 <> 0 AND b.vec_id % 10 = 0)
              |SELECT vec_id, MAX(cos) AS max_bench_cos,
              |  MAX(cos) >= 0.85 AS embedding_contaminated
              |FROM pairs GROUP BY vec_id""".stripMargin)),

    // ---- temperature-scaled mixture sampling (operators.Sample
    // .temperatureMixture): stratum budget share w_s = tot_s^α/Σtot^α
    // — the standard multilingual data-mix recipe (α=1 natural, α→0
    // uniform). The float weight chain rounds to 9 digits before
    // bucket quantization so both engines derive identical rates.
    QueryDef(
      "t44_temperature_mixture",
      (s, dir) => graft.operators.Sample.temperatureMixture(
        docs(s, dir).select(col("doc_id"), col("lang"), col("n_chars")),
        "doc_id", "lang", "n_chars", alpha = 0.5,
        totalBudget = 200000L)
        .select("doc_id", "lang", "n_chars"),
      Some {
        val bucket = DuckSql.hexToLong(
          "md5('graft|' || CAST(d.doc_id AS VARCHAR))", 8)
        s"""WITH tots AS (SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS tot
           |  FROM documents GROUP BY 1 HAVING SUM(n_chars) > 0),
           |p AS (SELECT SUM(pow(tot, 0.5)) AS ptot FROM tots),
           |rates AS (SELECT lang,
           |    least(1000000, CAST(floor(200000.0
           |      * round(pow(tot, 0.5) / ptot, 9)
           |      * 1000000 / tot) AS BIGINT)) AS rb
           |  FROM tots, p)
           |SELECT d.doc_id, d.lang, d.n_chars
           |FROM documents d JOIN rates r ON r.lang = d.lang
           |WHERE $bucket % 1000000 < r.rb""".stripMargin
      }),

    // ---- content-defined chunking (operators.Chunk): boundaries from
    // the trailing-8-char window hash ≡ 0 mod 64, so edits re-sync at
    // the next content boundary — the rsync/LBFS recipe at corpus
    // scale. Oracle rebuilds every boundary and chunk literally.
    QueryDef(
      "t45_cdc_chunks",
      (s, dir) => graft.operators.Chunk.contentDefinedChunks(
        spread(s, docs(s, dir)), "doc_id", "text",
        window = 8, modulus = 64)
        .select(col("doc_id"), col("chunk_idx"),
          md5(col("chunk")).as("chunk_md5")),
      Some {
        val wh = DuckSql.hexToLong(
          "md5(substring(text, CAST(i AS INT) - 7, 8))", 8)
        s"""WITH b AS (SELECT doc_id, text, length(text) AS len,
           |    CASE WHEN length(text) > 8 THEN
           |      list_filter(range(8, length(text)), i -> $wh % 64 = 0)
           |    ELSE CAST([] AS BIGINT[]) END AS bnds
           |  FROM documents WHERE length(text) > 0),
           |c AS (SELECT doc_id, text,
           |    list_concat([CAST(1 AS BIGINT)],
           |      list_transform(bnds, x -> x + 1)) AS starts,
           |    list_concat(bnds, [CAST(len AS BIGINT)]) AS ends
           |  FROM b),
           |ch AS (SELECT doc_id,
           |    unnest(list_transform(range(1, len(starts) + 1),
           |      k -> {'idx': k - 1,
           |            'h': md5(substring(text, CAST(starts[k] AS INT),
           |                 CAST(ends[k] - starts[k] + 1 AS INT)))})) AS u
           |  FROM c)
           |SELECT doc_id, CAST(u['idx'] AS INT) AS chunk_idx,
           |  u['h'] AS chunk_md5
           |FROM ch""".stripMargin
      }),

    // chunk-level duplication stats — the boilerplate-fragment signal
    // document-level dedup misses (same aggregate shape as t32's span
    // stats, at content-defined-chunk granularity)
    QueryDef(
      "t46_chunk_dup_stats",
      (s, dir) => graft.operators.Chunk.chunkDupStats(
        spread(s, docs(s, dir)), "doc_id", "text",
        window = 8, modulus = 64, rolling = true),
      Some {
        // rolling predicate (the production path, 37x cheaper than the
        // md5 window at sf1 — t45 keeps the md5 form gated): the
        // oracle recomputes each window hash as the explicit polynomial
        val wh = (0 until 8).map { j =>
          val pow = java.math.BigInteger.valueOf(TextOps.RollingB)
            .pow(7 - j)
          s"CAST(ascii(substring(text, CAST(i AS INT) - ${7 - j}, 1)) " +
            s"AS BIGINT) * $pow"
        }.mkString("(", " + ", s") % ${TextOps.RollingP}")
        s"""WITH b AS (SELECT doc_id, text, length(text) AS len,
           |    CASE WHEN length(text) > 8 THEN
           |      list_filter(range(8, length(text)), i -> $wh % 64 = 0)
           |    ELSE CAST([] AS BIGINT[]) END AS bnds
           |  FROM documents WHERE length(text) > 0),
           |c AS (SELECT doc_id, text,
           |    list_concat([CAST(1 AS BIGINT)],
           |      list_transform(bnds, x -> x + 1)) AS starts,
           |    list_concat(bnds, [CAST(len AS BIGINT)]) AS ends
           |  FROM b),
           |ch AS (SELECT doc_id,
           |    unnest(list_transform(range(1, len(starts) + 1),
           |      k -> md5(substring(text, CAST(starts[k] AS INT),
           |           CAST(ends[k] - starts[k] + 1 AS INT))))) AS h
           |  FROM c),
           |loc AS (SELECT doc_id, h, COUNT(*) AS c_local
           |  FROM ch GROUP BY 1, 2),
           |gl AS (SELECT h, SUM(c_local) AS c_glob
           |  FROM loc GROUP BY 1)
           |SELECT doc_id,
           |  CAST(SUM(c_local) AS BIGINT) AS n_chunks,
           |  CAST(SUM(CASE WHEN c_glob > 1 THEN c_local ELSE 0 END)
           |    AS BIGINT) AS n_dup_chunks,
           |  round(CAST(SUM(CASE WHEN c_glob > 1 THEN c_local ELSE 0 END)
           |      AS DOUBLE)
           |    / CAST(SUM(c_local) AS DOUBLE), 6) AS dup_ratio
           |FROM loc JOIN gl USING (h) GROUP BY doc_id""".stripMargin
      }),

    // Rabin-fingerprint CDC (expressions.RollingBounds, codegen'd):
    // the O(1)-per-position boundary predicate a 100-TB pass runs —
    // the oracle recomputes every window hash as the explicit 8-term
    // polynomial (mod is homomorphic, so full-sum-then-mod equals the
    // expression's incremental mod)
    QueryDef(
      "t47_cdc_rolling",
      (s, dir) => graft.operators.Chunk.contentDefinedChunksRolling(
        spread(s, docs(s, dir)), "doc_id", "text",
        window = 8, modulus = 64)
        .select(col("doc_id"), col("chunk_idx"),
          md5(col("chunk")).as("chunk_md5")),
      Some {
        val wh = (0 until 8).map { j =>
          val pow = java.math.BigInteger.valueOf(TextOps.RollingB)
            .pow(7 - j)
          s"CAST(ascii(substring(text, CAST(i AS INT) - ${7 - j}, 1)) " +
            s"AS BIGINT) * $pow"
        }.mkString("(", " + ", s") % ${TextOps.RollingP}")
        s"""WITH b AS (SELECT doc_id, text, length(text) AS len,
           |    CASE WHEN length(text) > 8 THEN
           |      list_filter(range(8, length(text)), i -> $wh % 64 = 0)
           |    ELSE CAST([] AS BIGINT[]) END AS bnds
           |  FROM documents WHERE length(text) > 0),
           |c AS (SELECT doc_id, text,
           |    list_concat([CAST(1 AS BIGINT)],
           |      list_transform(bnds, x -> x + 1)) AS starts,
           |    list_concat(bnds, [CAST(len AS BIGINT)]) AS ends
           |  FROM b),
           |ch AS (SELECT doc_id,
           |    unnest(list_transform(range(1, len(starts) + 1),
           |      k -> {'idx': k - 1,
           |            'h': md5(substring(text, CAST(starts[k] AS INT),
           |                 CAST(ends[k] - starts[k] + 1 AS INT)))})) AS u
           |  FROM c)
           |SELECT doc_id, CAST(u['idx'] AS INT) AS chunk_idx,
           |  u['h'] AS chunk_md5
           |FROM ch""".stripMargin
      }),

    // ---- combined decontamination report (Decontam.fullReport):
    // both leakage signals per document — n-gram span overlap AND
    // embedding proximity — in one frame; the oracle composes the t36
    // span chain with the t42 cosine chain. fullReport takes docs and
    // bench pre-joined to their embeddings, so both signals see only
    // documents that have one: the oracle's span chain starts from
    // that join too (sf0.1 embeds doc ids 0..1999 of 5,000).
    QueryDef(
      "t48_contamination_report",
      (s, dir) => {
        val d = spread(s, docs(s, dir))
        val e = Tables(s, dir, "embeddings")
          .select(col("vec_id"),
            VectorOps.asDouble(col("embedding")).as("v"))
        val joined = d.join(e, d("doc_id") === e("vec_id"))
          .select(d("doc_id"), d("text"), col("v"))
        graft.operators.Decontam.fullReport(
          joined.filter(col("doc_id") % 10 =!= 0), "doc_id", "text",
          "v", joined.filter(col("doc_id") % 10 === 0), "text", "v",
          n = 5, threshold = 0.9)
      },
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents
              |  WHERE doc_id IN (SELECT vec_id FROM embeddings)),
              |bg AS (SELECT DISTINCT
              |    unnest(${DuckSql.ngramsRaw("toks", 5)}) AS gram
              |  FROM t WHERE doc_id % 10 = 0),
              |tot AS (SELECT doc_id,
              |    CAST(len(${DuckSql.ngramsRaw("toks", 5)}) AS BIGINT)
              |      AS n_spans
              |  FROM t WHERE doc_id % 10 <> 0),
              |g AS (SELECT doc_id,
              |    unnest(${DuckSql.ngramsRaw("toks", 5)}) AS gram
              |  FROM t WHERE doc_id % 10 <> 0),
              |hits AS (SELECT doc_id, COUNT(*) AS n_cont
              |  FROM g JOIN bg USING (gram) GROUP BY 1),
              |n AS (SELECT vec_id, embedding,
              |    sqrt(${DuckSql.dot("embedding", "embedding", Dims)}) AS nrm
              |  FROM embeddings),
              |pairs AS (SELECT c.vec_id,
              |    round(${DuckSql.dot("c.embedding", "b.embedding", Dims)}
              |          / (c.nrm * b.nrm), 6) AS cos
              |  FROM n c, n b
              |  WHERE c.vec_id % 10 <> 0 AND b.vec_id % 10 = 0),
              |emb AS (SELECT vec_id, MAX(cos) AS mbc
              |  FROM pairs GROUP BY 1)
              |SELECT tot.doc_id, tot.n_spans,
              |  COALESCE(h.n_cont, 0) AS n_contaminated,
              |  CASE WHEN tot.n_spans > 0 THEN
              |    round(CAST(COALESCE(h.n_cont, 0) AS DOUBLE)
              |      / CAST(tot.n_spans AS DOUBLE), 6)
              |  ELSE 0.0 END AS contamination_ratio,
              |  e.mbc AS max_bench_cos,
              |  e.mbc >= 0.9 AS embedding_contaminated,
              |  (e.mbc >= 0.9 OR COALESCE(h.n_cont, 0) > 0)
              |    AS contaminated
              |FROM tot LEFT JOIN hits h USING (doc_id)
              |JOIN emb e ON e.vec_id = tot.doc_id""".stripMargin)),

    // ---- fixed-length training sequences (Pack.packSequences over
    // Bpe.tokenIds): the terminal "emit training rows" step —
    // documents concatenate in id order into one token stream split
    // every 512 ids. The oracle rebuilds ordered per-word token LISTS
    // from the same recursive merge chain (min_by(len) = final
    // state), flattens them in word order, assigns global positions
    // with the single window the operator's two-level decomposition
    // must reproduce, and hashes each sequence's id string.
    QueryDef(
      "t49_pack_sequences",
      (s, dir) => graft.operators.Pack.packSequences(
        spread(s, docs(s, dir))
          .select(col("doc_id"),
            graft.functions.Bpe.tokenIds(col("text"),
              graft.functions.Bpe.GateMerges).as("ids")),
        "doc_id", "ids", seqLen = 512, nBuckets = 7)
        .select(col("seq_id"), col("n_tokens"),
          md5(concat_ws(",",
            transform(col("token_ids"), i => i.cast("string"))))
            .as("seq_md5")),
      Some {
        val vl = graft.functions.Bpe.vocab(graft.functions.Bpe.GateMerges)
          .map(v => "'" + v.replace("'", "''") + "'")
          .mkString("[", ", ", "]")
        s"""WITH RECURSIVE
           |${graft.functions.Bpe.duckSql(
               graft.functions.Bpe.GateMerges,
               "documents", "doc_id", "text")},
           |wt AS (SELECT w, min_by(s, len(s)) AS syms
           |  FROM __bpe_rec GROUP BY w),
           |dw AS (SELECT doc_id,
           |    list_filter(string_split(text, ' '), x -> len(x) > 0)
           |      AS ws
           |  FROM documents),
           |dwx AS (SELECT doc_id, generate_subscripts(ws, 1) AS wi,
           |    unnest(ws) AS w FROM dw),
           |tok AS (SELECT doc_id, wi,
           |    generate_subscripts(wt.syms, 1) AS si,
           |    unnest(wt.syms) AS sym
           |  FROM dwx JOIN wt USING (w)),
           |ids AS (SELECT doc_id,
           |    row_number() OVER (PARTITION BY doc_id
           |      ORDER BY wi, si) - 1 AS ti,
           |    coalesce(nullif(list_position($vl, sym), 0), 2) - 1
           |      AS id
           |  FROM tok),
           |n AS (SELECT doc_id, COUNT(*) AS nt FROM ids GROUP BY 1),
           |off AS (SELECT doc_id,
           |    COALESCE(SUM(nt) OVER (ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           |      0) AS o
           |  FROM n),
           |gp AS (SELECT i.doc_id, o.o + i.ti AS g, i.id
           |  FROM ids i JOIN off o USING (doc_id))
           |SELECT CAST(g // 512 AS BIGINT) AS seq_id,
           |  CAST(COUNT(*) AS INT) AS n_tokens,
           |  md5(string_agg(CAST(id AS VARCHAR), ',' ORDER BY g))
           |    AS seq_md5
           |FROM gp GROUP BY 1""".stripMargin
      }),

    // ---- char-trigram LM quality score (operators.Quality
    // .charLmScore): the CCNet-style perplexity-proxy filter — docs
    // scored by avg ln P(c3|c1c2) under an add-one-smoothed model
    // estimated from the doc_id % 10 = 0 reference slice. The oracle
    // recomputes counts, prefix totals, charset size, and the ln
    // (t31 precedent: JVM and DuckDB ln agree bit-for-bit here).
    QueryDef(
      "t50_char_lm_quality",
      (s, dir) => {
        val d = spread(s, docs(s, dir))
        graft.operators.Quality.charLmScore(
          d.filter(col("doc_id") % 10 =!= 0), "doc_id", "text",
          d.filter(col("doc_id") % 10 === 0), "text")
      },
      Some("""WITH tri AS (SELECT doc_id,
             |    unnest(list_transform(range(1, length(text) - 1),
             |      i -> substring(lower(text), CAST(i AS INT), 3)))
             |      AS t
             |  FROM documents WHERE length(text) >= 3),
             |rt AS (SELECT t, COUNT(*) AS c3 FROM tri
             |  WHERE doc_id % 10 = 0 GROUP BY 1),
             |rp AS (SELECT substring(t, 1, 2) AS p, SUM(c3) AS c2
             |  FROM rt GROUP BY 1),
             |v AS (SELECT COUNT(DISTINCT ch) AS vs FROM (
             |  SELECT unnest(string_split(lower(text), '')) AS ch
             |  FROM documents WHERE doc_id % 10 = 0)),
             |dt AS (SELECT doc_id, t, COUNT(*) AS n FROM tri
             |  WHERE doc_id % 10 <> 0 GROUP BY 1, 2)
             |SELECT dt.doc_id,
             |  CAST(SUM(dt.n) AS BIGINT) AS n_trigrams,
             |  round(SUM(ln(CAST(COALESCE(rt.c3, 0) + 1 AS DOUBLE)
             |      / CAST(COALESCE(rp.c2, 0) + v.vs AS DOUBLE)) * dt.n)
             |    / SUM(dt.n), 6) AS avg_logprob
             |FROM dt
             |LEFT JOIN rt ON rt.t = dt.t
             |LEFT JOIN rp ON rp.p = substring(dt.t, 1, 2)
             |CROSS JOIN v
             |GROUP BY dt.doc_id""".stripMargin)),

    // ---- Gopher-style repetition signals (operators.Repetition
    // .repetitionSignals): modal-2-gram fraction, duplicated-5-gram
    // fraction, longest token run — computed ZERO-SHUFFLE by sorting
    // each row's own gram array and run-length folding it. The oracle
    // computes the same values by the explode → GROUP BY (doc, gram)
    // route and gaps-and-islands for runs — a completely different
    // algorithm, same numbers.
    QueryDef(
      "t51_repetition_signals",
      (s, dir) => graft.operators.Repetition.repetitionSignals(
        spread(s, docs(s, dir)), "doc_id", "text"),
      Some(s"""WITH tk AS (SELECT doc_id, $toksSql AS t FROM documents),
             |g2 AS (SELECT doc_id, t[x] || ' ' || t[x+1] AS g
             |  FROM tk, UNNEST(generate_series(1, len(t) - 1)) AS u(x)),
             |c2 AS (SELECT doc_id, MAX(c) AS top2_cnt FROM (
             |    SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY 1, 2)
             |  GROUP BY 1),
             |g5 AS (SELECT doc_id, t[x] || ' ' || t[x+1] || ' ' ||
             |    t[x+2] || ' ' || t[x+3] || ' ' || t[x+4] AS g
             |  FROM tk, UNNEST(generate_series(1, len(t) - 4)) AS u(x)),
             |c5 AS (SELECT doc_id,
             |    SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup5_cnt
             |  FROM (
             |    SELECT doc_id, g, COUNT(*) AS c FROM g5 GROUP BY 1, 2)
             |  GROUP BY 1),
             |runs AS (SELECT doc_id, MAX(rl) AS max_token_run FROM (
             |    SELECT doc_id, tok, grp, COUNT(*) AS rl FROM (
             |      SELECT doc_id, x, t[x] AS tok,
             |        x - ROW_NUMBER() OVER (
             |          PARTITION BY doc_id, t[x] ORDER BY x) AS grp
             |      FROM tk, UNNEST(generate_series(1, len(t))) AS u(x))
             |    GROUP BY 1, 2, 3)
             |  GROUP BY 1)
             |SELECT tk.doc_id, CAST(len(t) AS INT) AS n_tokens,
             |  COALESCE(runs.max_token_run, 0) AS max_token_run,
             |  COALESCE(c2.top2_cnt, 0) AS top2_cnt,
             |  CAST(COALESCE(c5.dup5_cnt, 0) AS BIGINT) AS dup5_cnt,
             |  CASE WHEN len(t) - 1 > 0 THEN
             |    round(CAST(COALESCE(c2.top2_cnt, 0) AS DOUBLE)
             |      / (len(t) - 1), 6) ELSE 0.0 END AS top2_frac,
             |  CASE WHEN len(t) - 4 > 0 THEN
             |    round(CAST(COALESCE(c5.dup5_cnt, 0) AS DOUBLE)
             |      / (len(t) - 4), 6) ELSE 0.0 END AS dup5_frac
             |FROM tk
             |LEFT JOIN c2 USING (doc_id)
             |LEFT JOIN c5 USING (doc_id)
             |LEFT JOIN runs USING (doc_id)""".stripMargin)),

    // ---- PII scrub (TextOps.scrubPii): emails, phone shapes
    // (international +…, NANP 3-3-4), IPv4 literals masked — row-local
    // regexp projections, same Java↔RE2-agreeing-syntax discipline as
    // t37. The corpus has no PII, so the gate synthesizes
    // deterministic dirt from row values (t37 precedent) — BOTH phone
    // alternatives, plus an ISO date that must SURVIVE (the
    // false-positive the narrow shapes exist to avoid) — and proves
    // both engines scrub it identically.
    QueryDef(
      "t52_pii_scrub",
      (s, dir) => docs(s, dir)
        .select(col("doc_id"),
          TextOps.scrubPii(concat(col("text"),
            lit(" mail "), col("lang"), lit("@ex.com call +55-"),
            ((col("doc_id") % 900) + 100).cast("string"),
            lit("-555-01"), (col("doc_id") % 10).cast("string"),
            lit(" or "), ((col("doc_id") % 900) + 100).cast("string"),
            lit("-555-01"),
            ((col("doc_id") % 90) + 10).cast("string"),
            lit(" on 2026-08-"),
            ((col("doc_id") % 20) + 10).cast("string"),
            lit(" from 10."), (col("doc_id") % 256).cast("string"),
            lit(".0."), (col("doc_id") % 100).cast("string"),
            lit(" end"))).as("scrubbed")),
      Some("""SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
             |    text || ' mail ' || lang || '@ex.com call +55-' ||
             |      CAST(doc_id % 900 + 100 AS VARCHAR) || '-555-01' ||
             |      CAST(doc_id % 10 AS VARCHAR) || ' or ' ||
             |      CAST(doc_id % 900 + 100 AS VARCHAR) || '-555-01' ||
             |      CAST(10 + doc_id % 90 AS VARCHAR) || ' on 2026-08-' ||
             |      CAST(10 + doc_id % 20 AS VARCHAR) || ' from 10.' ||
             |      CAST(doc_id % 256 AS VARCHAR) || '.0.' ||
             |      CAST(doc_id % 100 AS VARCHAR) || ' end',
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+',
             |      '<email>', 'g'),
             |    '\+[0-9][0-9\-]{5,}[0-9]|[0-9]{3}-[0-9]{3}-[0-9]{4}',
             |      '<phone>', 'g'),
             |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}',
             |      '<ip>', 'g') AS scrubbed
             |FROM documents""".stripMargin)),

    // ---- cross-document boilerplate removal (SpanStats
    // .removeDuplicatedSpans): the C4/RefinedWeb span-dedup recipe —
    // token positions covered by a 5-gram present in ≥ 2 distinct
    // documents are cut and the text rebuilt. The oracle recomputes
    // coverage by exploding every token position and anti-joining
    // (vs the operator's per-doc covered-array rebuild — different
    // plan, same text).
    QueryDef(
      "t53_remove_dup_spans",
      (s, dir) => graft.operators.SpanStats.removeDuplicatedSpans(
        spread(s, docs(s, dir)), "doc_id", "text", n = 5),
      Some(s"""WITH tk AS (SELECT doc_id, $toksSql AS t FROM documents),
             |pg AS (SELECT doc_id, x - 1 AS p,
             |    t[x] || ' ' || t[x+1] || ' ' || t[x+2] || ' ' ||
             |      t[x+3] || ' ' || t[x+4] AS g
             |  FROM tk, UNNEST(generate_series(1, len(t) - 4)) AS u(x)),
             |boiler AS (SELECT g FROM (
             |    SELECT g, COUNT(DISTINCT doc_id) AS dc FROM pg
             |    GROUP BY 1) WHERE dc >= 2),
             |cov AS (SELECT DISTINCT doc_id, p + o AS cp
             |  FROM pg JOIN boiler USING (g),
             |    UNNEST(generate_series(0, 4)) AS v(o)),
             |nr AS (SELECT doc_id, COUNT(*) AS n_removed FROM cov
             |  GROUP BY 1),
             |sel AS (SELECT tk.doc_id, x, t[x] AS tok
             |  FROM tk, UNNEST(generate_series(1, len(t))) AS u(x)),
             |kept AS (SELECT s.doc_id, s.x, s.tok FROM sel s
             |  LEFT JOIN cov c ON c.doc_id = s.doc_id AND c.cp = s.x - 1
             |  WHERE c.doc_id IS NULL),
             |agg AS (SELECT doc_id,
             |    string_agg(tok, ' ' ORDER BY x) AS cleaned
             |  FROM kept GROUP BY 1)
             |SELECT tk.doc_id, COALESCE(agg.cleaned, '') AS cleaned,
             |  CAST(COALESCE(nr.n_removed, 0) AS BIGINT) AS n_removed
             |FROM tk
             |LEFT JOIN agg USING (doc_id)
             |LEFT JOIN nr USING (doc_id)""".stripMargin)),

    // ---- SemDeDup-style semantic dedup (NearDup.dedupBySemanticCells):
    // nearest-centroid cells bound the exact-cosine quadratic — pairs
    // are priced only within a cell, min id survives. Same fixed
    // centroid set as t15 (vec_id < 8) so the oracle stays a window +
    // self-join, no Lloyd chain. The oracle computes the full
    // within-cell expansion; the operator's exact-vector collapse is
    // result-neutral (identical vectors share a cell and cos = 1).
    QueryDef(
      "t54_semantic_dedup",
      (s, dir) => {
        val e = spread(s, Tables(s, dir, "embeddings"))
          .select(col("vec_id"),
            VectorOps.asDouble(col("embedding")).as("v"))
        val cents = Tables(s, dir, "embeddings")
          .filter(col("vec_id") < 8)
          .select(col("vec_id").as("cent_id"),
            VectorOps.asDouble(col("embedding")).as("cv"))
        graft.operators.NearDup.dedupBySemanticCells(
          e, "vec_id", "v", cents, "cent_id", "cv", threshold = 0.4)
          .select(col("vec_id"))
      },
      Some {
        val diff = (1 to Dims).map(i =>
          "(CAST(e.embedding[" + i + "] AS DOUBLE) - CAST(c.embedding[" +
            i + "] AS DOUBLE))").map(d => s"$d * $d")
          .mkString("(", " + ", ")")
        s"""WITH assigned AS (
           |  SELECT e.vec_id, e.embedding, c.vec_id AS cell,
           |    row_number() OVER (PARTITION BY e.vec_id
           |      ORDER BY $diff ASC, c.vec_id ASC) AS rn
           |  FROM embeddings e, (SELECT * FROM embeddings WHERE vec_id < 8) c),
           |a AS (SELECT vec_id, embedding, cell,
           |    sqrt(${DuckSql.dot("embedding", "embedding", Dims)}) AS nrm
           |  FROM assigned WHERE rn = 1),
           |removed AS (SELECT DISTINCT y.vec_id
           |  FROM a x JOIN a y ON x.cell = y.cell AND x.vec_id < y.vec_id
           |  WHERE round(${DuckSql.dot("x.embedding", "y.embedding", Dims)}
           |      / (x.nrm * y.nrm), 6) >= 0.4)
           |SELECT vec_id FROM embeddings
           |WHERE vec_id NOT IN (SELECT vec_id FROM removed)""".stripMargin
      }),

    // ---- DSIR-style importance weights (Quality.dsirWeights): docs
    // scored under a TARGET LM (doc_id%10=0 slice) and a RAW LM
    // (doc_id%10=1 slice) in one fused corpus pass; weight = the
    // rounded log-likelihood ratio, selected = weight >= 0. The
    // oracle rebuilds both models from the same shared trigram CTE
    // (MATERIALIZED — inlining would re-execute it per model).
    QueryDef(
      "t55_dsir_weights",
      (s, dir) => {
        val d = spread(s, docs(s, dir))
        graft.operators.Quality.dsirWeights(
          d.filter(col("doc_id") % 10 >= 2), "doc_id", "text",
          d.filter(col("doc_id") % 10 === 0), "text",
          d.filter(col("doc_id") % 10 === 1), "text")
      },
      Some("""WITH tri AS MATERIALIZED (SELECT doc_id,
             |    unnest(list_transform(range(1, length(text) - 1),
             |      i -> substring(lower(text), CAST(i AS INT), 3)))
             |      AS t
             |  FROM documents WHERE length(text) >= 3),
             |tt AS (SELECT t, COUNT(*) AS c3t FROM tri
             |  WHERE doc_id % 10 = 0 GROUP BY 1),
             |tp AS (SELECT substring(t, 1, 2) AS p, SUM(c3t) AS c2t
             |  FROM tt GROUP BY 1),
             |tv AS (SELECT COUNT(DISTINCT ch) AS vt FROM (
             |  SELECT unnest(string_split(lower(text), '')) AS ch
             |  FROM documents WHERE doc_id % 10 = 0)),
             |rr AS (SELECT t, COUNT(*) AS c3r FROM tri
             |  WHERE doc_id % 10 = 1 GROUP BY 1),
             |rp AS (SELECT substring(t, 1, 2) AS p, SUM(c3r) AS c2r
             |  FROM rr GROUP BY 1),
             |rv AS (SELECT COUNT(DISTINCT ch) AS vr FROM (
             |  SELECT unnest(string_split(lower(text), '')) AS ch
             |  FROM documents WHERE doc_id % 10 = 1)),
             |dt AS (SELECT doc_id, t, COUNT(*) AS n FROM tri
             |  WHERE doc_id % 10 >= 2 GROUP BY 1, 2),
             |sc AS (SELECT dt.doc_id,
             |    CAST(SUM(dt.n) AS BIGINT) AS n_trigrams,
             |    round(SUM(ln(CAST(COALESCE(tt.c3t, 0) + 1 AS DOUBLE)
             |        / CAST(COALESCE(tp.c2t, 0) + tv.vt AS DOUBLE))
             |      * dt.n) / SUM(dt.n), 6) AS lp_target,
             |    round(SUM(ln(CAST(COALESCE(rr.c3r, 0) + 1 AS DOUBLE)
             |        / CAST(COALESCE(rp.c2r, 0) + rv.vr AS DOUBLE))
             |      * dt.n) / SUM(dt.n), 6) AS lp_raw
             |  FROM dt
             |  LEFT JOIN tt ON tt.t = dt.t
             |  LEFT JOIN tp ON tp.p = substring(dt.t, 1, 2)
             |  LEFT JOIN rr ON rr.t = dt.t
             |  LEFT JOIN rp ON rp.p = substring(dt.t, 1, 2)
             |  CROSS JOIN tv CROSS JOIN rv
             |  GROUP BY dt.doc_id)
             |SELECT doc_id, n_trigrams, lp_target, lp_raw,
             |  round(lp_target - lp_raw, 6) AS weight,
             |  round(lp_target - lp_raw, 6) >= 0.0 AS selected
             |FROM sc""".stripMargin)),

    // ---- incremental SemDeDup (NearDup.dedupBySemanticCellsIncremental):
    // the daily-append pattern for embeddings — incoming (odd ids)
    // dedup against the existing corpus' materialized (id, vec, cell)
    // index (even ids) and against smaller-id incoming; existing
    // always wins. Same centroid set and threshold as t54.
    QueryDef(
      "t56_semantic_incremental",
      (s, dir) => {
        val e = spread(s, Tables(s, dir, "embeddings"))
          .select(col("vec_id"),
            VectorOps.asDouble(col("embedding")).as("v"))
        val cents = Tables(s, dir, "embeddings")
          .filter(col("vec_id") < 8)
          .select(col("vec_id").as("cent_id"),
            VectorOps.asDouble(col("embedding")).as("cv"))
        val existingIndex = graft.operators.Ann.ivfAssign(
          e.filter(col("vec_id") % 2 === 0), "vec_id", "v",
          cents, "cent_id", "cv")
        graft.operators.NearDup.dedupBySemanticCellsIncremental(
          e.filter(col("vec_id") % 2 === 1), "vec_id", "v",
          existingIndex, cents, "cent_id", "cv", threshold = 0.4)
          .select(col("vec_id"))
      },
      Some {
        val diff = (1 to Dims).map(i =>
          "(CAST(e.embedding[" + i + "] AS DOUBLE) - CAST(c.embedding[" +
            i + "] AS DOUBLE))").map(d => s"$d * $d")
          .mkString("(", " + ", ")")
        s"""WITH assigned AS (
           |  SELECT e.vec_id, e.embedding, c.vec_id AS cell,
           |    row_number() OVER (PARTITION BY e.vec_id
           |      ORDER BY $diff ASC, c.vec_id ASC) AS rn
           |  FROM embeddings e, (SELECT * FROM embeddings WHERE vec_id < 8) c),
           |a AS (SELECT vec_id, embedding, cell,
           |    sqrt(${DuckSql.dot("embedding", "embedding", Dims)}) AS nrm
           |  FROM assigned WHERE rn = 1),
           |removed AS (
           |  SELECT DISTINCT i.vec_id FROM a i JOIN a x
           |    ON i.cell = x.cell AND i.vec_id % 2 = 1
           |   AND (x.vec_id % 2 = 0 OR x.vec_id < i.vec_id)
           |   AND x.vec_id <> i.vec_id
           |  WHERE round(${DuckSql.dot("i.embedding", "x.embedding", Dims)}
           |      / (i.nrm * x.nrm), 6) >= 0.4)
           |SELECT vec_id FROM embeddings
           |WHERE vec_id % 2 = 1
           |  AND vec_id NOT IN (SELECT vec_id FROM removed)""".stripMargin
      }),

    // ---- leakage-safe split (Sample.leakageSafeSplit): the split
    // decision hashes the near-dup COMPONENT id, so a near-dup family
    // can never straddle train and eval. The oracle computes
    // components by brute-force transitive closure (the t24 recursive
    // reach — no exact-class collapse: identical docs verify at J = 1,
    // so the closures and minima coincide) and replays the salted
    // bucket arithmetic on the component.
    QueryDef(
      "t57_leakage_safe_split",
      (s, dir) => graft.operators.Sample.leakageSafeSplit(
        spread(s, docs(s, dir)), "doc_id", "text",
        SplitFractions, threshold = 0.8, salt = "graft-split")
        .select("doc_id", "component", "split"),
      Some {
        val bounds = graft.operators.Sample.splitBounds(SplitFractions)
        val splitCase = SplitFractions.indices.map { i =>
          s"WHEN sb >= ${bounds(i)} AND sb < ${bounds(i + 1)} THEN $i"
        }.mkString("CASE ", " ", " ELSE -1 END")
        val sbucket = DuckSql.hexToLong(
          "md5('graft-split|' || CAST(component AS VARCHAR))", 8)
        s"""WITH RECURSIVE $componentsClosureCtes,
           |sb AS (SELECT doc_id, component, $sbucket % 1000000 AS sb
           |  FROM comp)
           |SELECT doc_id, component, $splitCase AS split FROM sb"""
          .stripMargin
      }),

    // Canonical-survivor dedup (NearDup.canonicalByMinhash): per
    // near-dup family keep the LONGEST member (ties → smallest id) —
    // the production "keep the best copy" policy. The oracle is the
    // textbook closure + row_number window; the operator answers with
    // a partial-aggregable max(struct) under groupBy(component) — no
    // window, so a pathological million-member family combines
    // map-side instead of serializing through one window task. Same
    // winners by construction — which is what the gate pins.
    QueryDef(
      "t60_canonical_survivor",
      (s, dir) => graft.operators.NearDup.canonicalByMinhash(
        spread(s, docs(s, dir)), "doc_id", "text", "n_chars",
        threshold = 0.8)
        .select("doc_id", "component", "n_chars"),
      Some {
        s"""WITH RECURSIVE $componentsClosureCtes,
           |r AS (SELECT c.doc_id, c.component, d.n_chars,
           |    row_number() OVER (PARTITION BY c.component
           |      ORDER BY d.n_chars DESC, c.doc_id ASC) AS rn
           |  FROM comp c JOIN documents d USING (doc_id))
           |SELECT doc_id, component, n_chars FROM r WHERE rn = 1"""
          .stripMargin
      }),

    // Per-source frequency cap (domain capping): keep at most
    // SourceCap docs per source, chosen by salted-hash rank. The
    // oracle is the textbook single window; the operator runs the
    // skew-proof two-level refinement — same kept set by construction
    // (lane-local rank bounds global rank), which is exactly what the
    // gate pins down.
    QueryDef(
      "t58_source_cap",
      (s, dir) => graft.operators.Sample.capPerGroup(
        spread(s, docs(s, dir)), "source", "doc_id", SourceCap)
        .select("doc_id", "source", "n_chars"),
      Some {
        val bucket = DuckSql.hexToLong(
          "md5('graft-cap|' || CAST(doc_id AS VARCHAR))", 8)
        s"""WITH ranked AS (
           |  SELECT doc_id, source, n_chars, row_number() OVER (
           |    PARTITION BY source
           |    ORDER BY $bucket % 1000000, doc_id) AS rn
           |  FROM documents)
           |SELECT doc_id, source, n_chars FROM ranked
           |WHERE rn <= $SourceCap""".stripMargin
      }),

    // Append-mode frequency cap, id-parity style (the t26/t27
    // contract applied to domain capping): even docs = the existing
    // capped corpus, odd docs = the delta. Because the selection key
    // is append-stable and a group's cap-th threshold only tightens,
    // capping (existing kept ∪ delta) — never re-reading dropped
    // history — must equal the batch cap over ALL documents, which is
    // exactly the t58 oracle.
    QueryDef(
      "t62_source_cap_incremental",
      (s, dir) => {
        val all = spread(s, docs(s, dir))
          .select("doc_id", "source", "n_chars")
        val existingKept = graft.operators.Sample.capPerGroup(
          all.filter(col("doc_id") % 2 === 0), "source", "doc_id",
          SourceCap)
        graft.operators.Sample.capPerGroupIncremental(
          existingKept, all.filter(col("doc_id") % 2 === 1),
          "source", "doc_id", SourceCap)
          .select("doc_id", "source", "n_chars")
      },
      Some {
        val bucket = DuckSql.hexToLong(
          "md5('graft-cap|' || CAST(doc_id AS VARCHAR))", 8)
        s"""WITH ranked AS (
           |  SELECT doc_id, source, n_chars, row_number() OVER (
           |    PARTITION BY source
           |    ORDER BY $bucket % 1000000, doc_id) AS rn
           |  FROM documents)
           |SELECT doc_id, source, n_chars FROM ranked
           |WHERE rn <= $SourceCap""".stripMargin
      }),

    // Multimodal decode plumbing under the oracle: documents become a
    // media frame (payload = UTF-8 text bytes, kind cycling by id),
    // run through the REAL extractFeatures path — typed Dataset,
    // per-partition decoder instance, binary never shuffled — with
    // the deterministic FakeDecoder, whose integer byte-lane sums an
    // independent engine reproduces bit-for-bit (f32-exact). The
    // oracle recomputes every lane from byte positions. ASCII guard
    // on BOTH sides keeps char-indexed DuckDB ord() = byte value.
    QueryDef(
      "t59_media_features",
      (s, dir) => {
        import s.implicits._
        val media = spread(s, docs(s, dir))
          .filter(octet_length(col("text")) === length(col("text")))
          .select(
            col("doc_id").as("media_id"),
            when(col("doc_id") % 3 === 0, "image")
              .when(col("doc_id") % 3 === 1, "audio")
              .otherwise("video").as("kind"),
            lit("application/octet-stream").as("mime"),
            lit(0).as("width"), lit(0).as("height"),
            lit(0L).as("duration_ms"),
            encode(col("text"), "UTF-8").as("data"))
          .as[graft.multimodal.Multimodal.MediaRecord]
        val feats = graft.multimodal.Multimodal.extractFeatures(media)
        feats.toDF().select(
          Seq(col("media_id").as("doc_id"), col("kind"),
            col("n_bytes")) ++
            (0 until 8).map(j =>
              element_at(col("feature"), j + 1).cast("double")
                .as(s"f$j")): _*)
      },
      Some {
        val cases = (0 until 8).map(j =>
          s"COALESCE(SUM(CASE WHEN i % 8 = $j THEN byte END), 0) AS s$j")
          .mkString(", ")
        val fcols = (0 until 8).map(j =>
          s"CAST(COALESCE(p.s$j, 0) AS DOUBLE) AS f$j").mkString(", ")
        s"""WITH ascii_docs AS (
           |  SELECT doc_id, text FROM documents
           |  WHERE octet_length(encode(text)) = length(text)),
           |b AS (
           |  SELECT doc_id, unnest(range(length(text))) AS i, text
           |  FROM ascii_docs),
           |p AS (
           |  SELECT doc_id, $cases
           |  FROM (SELECT doc_id, i,
           |          CAST(ord(substr(text, CAST(i + 1 AS INT), 1))
           |            AS BIGINT) AS byte FROM b)
           |  GROUP BY doc_id)
           |SELECT a.doc_id,
           |  CASE CAST(a.doc_id % 3 AS INT) WHEN 0 THEN 'image'
           |       WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
           |  CAST(octet_length(encode(a.text)) AS BIGINT) AS n_bytes,
           |  $fcols
           |FROM ascii_docs a LEFT JOIN p ON p.doc_id = a.doc_id"""
          .stripMargin
      }),

    // Video frame sampling under the oracle (t59's sibling for the
    // one-to-many flatMap path): ASCII documents become video frames
    // with duration (doc_id % 7)·100 ms; the REAL sampleFrames path —
    // partition-local sampler, expansion before any shuffle, each row
    // carrying only its own frame bytes — runs the deterministic
    // 2-byte slicer, which the oracle reproduces per (frame, byte
    // offset) with substr arithmetic. Zero-duration clips yield no
    // frames on both sides; sub-cadence clips yield frame 0.
    QueryDef(
      "t61_video_frames",
      (s, dir) => {
        import s.implicits._
        val media = spread(s, docs(s, dir))
          .filter(octet_length(col("text")) === length(col("text")) &&
            length(col("text")) > 0 && col("doc_id") % 3 === 2)
          .select(
            col("doc_id").as("media_id"),
            lit("video").as("kind"),
            lit("application/octet-stream").as("mime"),
            lit(0).as("width"), lit(0).as("height"),
            (col("doc_id") % 7 * 100).cast("long").as("duration_ms"),
            encode(col("text"), "UTF-8").as("data"))
          .as[graft.multimodal.Multimodal.MediaRecord]
        graft.multimodal.Multimodal.sampleFrames(media, everyMs = 100)
          .toDF()
          .select(col("media_id").as("doc_id"), col("frame_idx"),
            col("ts_ms"), upper(hex(col("frame"))).as("frame_hex"))
      },
      Some {
        s"""WITH v AS (
           |  SELECT doc_id, text, length(text) AS len,
           |    CAST(doc_id % 7 AS BIGINT) * 100 AS dur
           |  FROM documents
           |  WHERE octet_length(encode(text)) = length(text)
           |    AND length(text) > 0 AND doc_id % 3 = 2),
           |f AS (
           |  SELECT doc_id, len, text,
           |    unnest(range(dur // 100)) AS i
           |  FROM v)
           |SELECT doc_id, CAST(i AS INT) AS frame_idx,
           |  CAST(i * 100 AS BIGINT) AS ts_ms,
           |  upper(hex(
           |    substr(text, CAST((i * 100) % len AS INT) + 1, 1) ||
           |    substr(text,
           |      CAST(((i * 100) % len + 1) % len AS INT) + 1, 1)))
           |    AS frame_hex
           |FROM f""".stripMargin
      }),

    // REAL video decode under the oracle (t61's successor — the
    // declared video stub is gone): each video doc becomes an actual
    // RIFF/AVI container of MJPEG frames (real JPEGs, JDK-encoded),
    // split by MjpegCodec's SOI/EOI marker scan, frame-sampled at
    // 100 ms, and DECODED back through javax.imageio for pixel stats.
    // The oracle can replay a lossy codec because the frames are
    // solid-gray: a uniform block is DC-only and the DC round-trips
    // bit-exact at any quality (verified for all 256 grays), so
    // mean integer luminance == the gray value the frame was built
    // from, which DuckDB recomputes arithmetically.
    QueryDef(
      "t63_mjpeg_frames",
      (s, dir) => {
        import s.implicits._
        import graft.multimodal.{Multimodal => mm}
        val media = spread(s, docs(s, dir))
          .filter(octet_length(col("text")) === length(col("text")) &&
            length(col("text")) > 0 && col("doc_id") % 3 === 2)
          .select(col("doc_id"), (col("doc_id") % 5 + 1).cast("int").as("nf"))
          .as[(Long, Int)]
          .mapPartitions { it =>
            it.map { case (id, nf) =>
              val frames = (0 until nf).map(i =>
                mm.solidJpeg(((id * 37 + i * 53) % 256).toInt, 16, 16))
              mm.MediaRecord(id, "video", "video/x-msvideo", 16, 16,
                nf * 100L, mm.aviMjpeg(frames, 16, 16))
            }
          }
        mm.frameStats(mm.sampleFramesDecoded(media, everyMs = 100)).toDF()
          .select(col("media_id").as("doc_id"), col("frame_idx"),
            col("ts_ms"), col("width"), col("height"), col("mean_lum"))
      },
      Some {
        s"""WITH v AS (
           |  SELECT doc_id, CAST(doc_id % 5 + 1 AS BIGINT) AS nf
           |  FROM documents
           |  WHERE octet_length(encode(text)) = length(text)
           |    AND length(text) > 0 AND doc_id % 3 = 2),
           |f AS (SELECT doc_id, unnest(range(nf)) AS i FROM v)
           |SELECT doc_id, CAST(i AS INT) AS frame_idx,
           |  CAST(i * 100 AS BIGINT) AS ts_ms,
           |  CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
           |  CAST((doc_id * 37 + i * 53) % 256 AS DOUBLE) AS mean_lum
           |FROM f""".stripMargin
      }),

    // REAL audio decode + native windowed features under the oracle:
    // docs synthesize 16-bit PCM WAVs (sample k = (byte-100)·(−1)^i,
    // stored as k·64 — exact binary fractions after decode), the REAL
    // javax.sound path decodes them, and AudioOps.windowFeatures
    // (pure builtin higher-order functions, zero UDFs) computes
    // 4-window RMS + zero-crossing rate. Every x² is an exact multiple
    // of 2⁻¹⁸, so both engines' sums are exact and sqrt/division are
    // IEEE-identical — the oracle recomputes the same integers from
    // ord() arithmetic and must hash-match bit-for-bit.
    QueryDef(
      "t64_audio_windows",
      (s, dir) => {
        import s.implicits._
        import graft.multimodal.{Multimodal => mm}
        val media = spread(s, docs(s, dir))
          .filter(octet_length(col("text")) === length(col("text")) &&
            length(col("text")) >= 8 && col("doc_id") % 3 === 1)
          .select(col("doc_id"), col("text")).as[(Long, String)]
          .mapPartitions { it =>
            it.map { case (id, text) =>
              val bytes = text.getBytes("US-ASCII")
              val samples = Array.tabulate(bytes.length) { i =>
                val k = (bytes(i) - 100) * (if (i % 2 == 1) -1 else 1)
                (k * 64).toShort
              }
              mm.MediaRecord(id, "audio", "audio/wav", 0, 0,
                bytes.length * 1000L / 8000L, mm.wavPcm16(samples, 8000))
            }
          }
        mm.decodeAudioSamples(media).toDF()
          .select(col("media_id").as("doc_id"),
            explode(graft.functions.AudioOps.windowFeatures("samples", 4))
              .as("f"))
          .select(col("doc_id"), col("f.window").as("window"),
            col("f.n").as("n"), col("f.rms").as("rms"),
            col("f.zcr").as("zcr"))
      },
      Some {
        s"""WITH a AS (
           |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
           |  FROM documents
           |  WHERE octet_length(encode(text)) = length(text)
           |    AND length(text) >= 8 AND doc_id % 3 = 1),
           |sm AS (SELECT doc_id, n, unnest(range(n)) AS i, text FROM a),
           |k AS (SELECT doc_id, n, i,
           |    CAST((ord(substr(text, CAST(i + 1 AS INT), 1)) - 100)
           |      * (1 - 2 * (i % 2)) AS BIGINT) AS kv,
           |    CAST(i * 4 // n AS INT) AS w
           |  FROM sm),
           |p AS (SELECT doc_id, w, kv,
           |    lag(kv) OVER (PARTITION BY doc_id ORDER BY i) AS pk,
           |    lag(w) OVER (PARTITION BY doc_id ORDER BY i) AS pw
           |  FROM k),
           |agg AS (SELECT doc_id, w, COUNT(*) AS n_w,
           |    CAST(SUM(kv * kv) AS BIGINT) AS k2,
           |    CAST(COALESCE(SUM(CASE WHEN pw = w AND pk * kv < 0
           |      THEN 1 ELSE 0 END), 0) AS INT) AS zcr
           |  FROM p GROUP BY doc_id, w)
           |SELECT doc_id, w AS window, CAST(n_w AS INT) AS n,
           |  sqrt(CAST(k2 AS DOUBLE) / 262144.0 / CAST(n_w AS DOUBLE))
           |    AS rms,
           |  zcr
           |FROM agg""".stripMargin
      }),

    // Commit-log snapshot EXPORT under the oracle — the BI-reads-core
    // interop contract: a commit-log table is built from orders (two
    // upserts: v1 = keys %4=0; v2 adds %4=2 and re-prices %8=0),
    // both versions export as PLAIN parquet, and the oracle is DuckDB
    // ITSELF reading the exported files off disk — hash-equality
    // against the engine-internal readAt proves any external engine
    // sees exactly the committed snapshot, per version.
    QueryDef(
      "t65_snapshot_export",
      (s, dir) => {
        val cl = graft.operators.CommitLogTableFormat
        val base = Tables.gatePath(dir, "export")
        val fsPath = new org.apache.hadoop.fs.Path(base)
        fsPath.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(fsPath, true) // deterministic rebuild per run
        val table = s"$base/table"
        val orders = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        val batch1 = orders.filter(col("o_orderkey") % 4 === 0)
          .withColumn("ver", lit(1L))
        val batch2 = orders.filter(col("o_orderkey") % 4 === 2)
          .unionByName(orders.filter(col("o_orderkey") % 8 === 0)
            .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0)))
          .withColumn("ver", lit(2L))
        cl.upsert(s, batch1, table, Seq("o_orderkey"), "ver")
        cl.upsert(s, batch2, table, Seq("o_orderkey"), "ver")
        cl.exportSnapshot(s, table, 1L, s"$base/v1")
        cl.exportSnapshot(s, table, 2L, s"$base/v2")
        val v1 = cl.readAt(s, table, 1L).get.withColumn("version", lit(1))
        val v2 = cl.readAt(s, table, 2L).get.withColumn("version", lit(2))
        v1.unionByName(v2)
          .select(col("version"), col("o_orderkey"), col("o_custkey"),
            col("o_totalprice"))
      },
      Some {
        val base = Tables.oracleGatePath("export")
        s"""SELECT CAST(1 AS INT) AS version, o_orderkey, o_custkey,
           |  o_totalprice
           |FROM read_parquet('$base/v1/*.parquet')
           |UNION ALL
           |SELECT CAST(2 AS INT) AS version, o_orderkey, o_custkey,
           |  o_totalprice
           |FROM read_parquet('$base/v2/*.parquet')"""
          .stripMargin
      }),

    // IVF-PQ APPEND maintenance under the oracle: assets (coarse
    // centroids + PQ codebook) train on the EXISTING corpus (even
    // vec_ids) and freeze; the delta (odd vec_ids) is append-encoded
    // against them (Ann.ivfPqAppend — O(delta), no existing row
    // touched) and searched via the prebuilt-index entry. The oracle
    // REBUILDS: it trains the same frozen assets on evens, encodes
    // the whole union, and searches — so hash-equality IS the
    // append-then-search == rebuild-then-search contract.
    QueryDef(
      "t66_ivfpq_append",
      (s, dir) => {
        val ann = graft.operators.Ann
        // r12: scanned ~8× across training/encode/append — persist
        // once (see t69's note)
        val all = graft.CacheRegistry.track(
          spread(s, Tables(s, dir, "embeddings"))
            .select(col("vec_id"),
              VectorOps.asDouble(col("embedding")).as("v"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val existing = all.filter(col("vec_id") % 2 === 0)
        val delta = all.filter(col("vec_id") % 2 === 1)
        val cents = ann.trainCentroids(existing, "vec_id", "v",
          nlist = 8, iters = 2)
        val books = ann.trainPq(existing, "vec_id", "v",
          PqM, PqDsub, PqKsub, PqIters)
        val index = ann.ivfPqIndex(existing, "vec_id", "v",
          cents, "cent_id", "cv", books, PqM, PqDsub)
        val appended = ann.ivfPqAppend(index, delta, "vec_id", "v",
          cents, "cent_id", "cv", books, PqM, PqDsub)
        val probes = Tables(s, dir, "embeddings")
          .filter(col("vec_id") < 5)
          .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("v"))
        ann.ivfPqSearchIndexed(appended, probes, "vec_id", "v",
          cents, "cent_id", "cv", books, PqM, PqDsub, k = 3, nprobe = 2)
      },
      Some {
        val pdSum = (0 until PqM).map(i => s"pd$i").mkString(" + ")
        val pivotPd = (0 until PqM)
          .map(i => s"MAX(CASE WHEN e.sub = $i THEN l.pd END) AS pd$i")
          .mkString(", ")
        s"""WITH existing AS MATERIALIZED (
           |  SELECT * FROM embeddings WHERE vec_id % 2 = 0),
           |${lloydSqlFrom("existing", 8, 2)},
           |${pqLloydSqlFrom("existing", "embedding", PqM, PqDsub, PqKsub, PqIters)},
           |cents AS MATERIALIZED (SELECT * FROM c2),
           |books AS MATERIALIZED (SELECT * FROM b$PqIters),
           |cells AS MATERIALIZED (SELECT c_id, cell FROM (
           |  SELECT e.vec_id AS c_id, c.cent_id AS cell,
           |    row_number() OVER (PARTITION BY e.vec_id
           |      ORDER BY ${d2Trained("e", "c")} ASC, c.cent_id ASC) AS rn
           |  FROM embeddings e, cents c) WHERE rn = 1),
           |pcells AS MATERIALIZED (SELECT p_id, cell FROM (
           |  SELECT p.vec_id AS p_id, c.cent_id AS cell,
           |    row_number() OVER (PARTITION BY p.vec_id
           |      ORDER BY ${d2Trained("p", "c")} ASC, c.cent_id ASC) AS rn
           |  FROM (SELECT * FROM embeddings WHERE vec_id < 5) p, cents c)
           |  WHERE rn <= 2),
           |enc AS MATERIALIZED (SELECT vec_id, sub, code FROM (
           |  SELECT e.vec_id, c.sub, c.code,
           |    row_number() OVER (PARTITION BY e.vec_id, c.sub
           |      ORDER BY ${pqD2Sql("e", "c", PqDsub)} ASC, c.code ASC) AS rn
           |  FROM embeddings e, books c) WHERE rn = 1),
           |lut AS MATERIALIZED (SELECT p.vec_id AS p_id, c.sub, c.code,
           |    ${pqD2Sql("p", "c", PqDsub)} AS pd
           |  FROM (SELECT * FROM embeddings WHERE vec_id < 5) p,
           |       books c),
           |j AS (SELECT l.p_id, e.vec_id AS c_id, $pivotPd
           |  FROM enc e
           |  JOIN cells cl ON cl.c_id = e.vec_id
           |  JOIN pcells pc ON pc.cell = cl.cell
           |  JOIN lut l ON l.sub = e.sub AND l.code = e.code
           |    AND l.p_id = pc.p_id
           |  WHERE e.vec_id <> pc.p_id GROUP BY l.p_id, e.vec_id),
           |scored AS (SELECT p_id, c_id, round($pdSum, 6) AS ad2 FROM j)
           |SELECT p_id, rn, c_id, ad2 FROM (
           |  SELECT *, row_number() OVER (PARTITION BY p_id
           |    ORDER BY ad2 ASC, c_id ASC) AS rn FROM scored)
           |WHERE rn <= 3""".stripMargin
      }),

    // Windowed DFT band energies (t64's successor): the spectral
    // operator the multimodal column family was missing. The DFT is
    // evaluated per window at DC, fs/4 and Nyquist — the three bins
    // whose twiddle factors are exact {±1, 0} doubles — so the whole
    // pipeline stays in t64's exact-binary-fraction contract and the
    // oracle is DuckDB REDERIVING the energies from the same integer
    // sample values: per-window relative index r, exact BIGINT sums
    // dc/c4/s4/ny, energy = |Σ|²/n², one IEEE division per band.
    QueryDef(
      "t67_audio_spectral",
      (s, dir) => {
        import s.implicits._
        import graft.multimodal.{Multimodal => mm}
        val media = spread(s, docs(s, dir))
          .filter(octet_length(col("text")) === length(col("text")) &&
            length(col("text")) >= 8 && col("doc_id") % 3 === 1)
          .select(col("doc_id"), col("text")).as[(Long, String)]
          .mapPartitions { it =>
            it.map { case (id, text) =>
              val bytes = text.getBytes("US-ASCII")
              val samples = Array.tabulate(bytes.length) { i =>
                val k = (bytes(i) - 100) * (if (i % 2 == 1) -1 else 1)
                (k * 64).toShort
              }
              mm.MediaRecord(id, "audio", "audio/wav", 0, 0,
                bytes.length * 1000L / 8000L, mm.wavPcm16(samples, 8000))
            }
          }
        mm.decodeAudioSamples(media).toDF()
          .select(col("media_id").as("doc_id"),
            explode(graft.functions.AudioOps.spectralBands("samples", 4))
              .as("f"))
          .select(col("doc_id"), col("f.window").as("window"),
            col("f.n").as("n"), col("f.e_dc").as("e_dc"),
            col("f.e_mid").as("e_mid"), col("f.e_high").as("e_high"))
      },
      Some {
        s"""WITH a AS (
           |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
           |  FROM documents
           |  WHERE octet_length(encode(text)) = length(text)
           |    AND length(text) >= 8 AND doc_id % 3 = 1),
           |sm AS (SELECT doc_id, n, unnest(range(n)) AS i, text FROM a),
           |k AS (SELECT doc_id, n, i,
           |    CAST((ord(substr(text, CAST(i + 1 AS INT), 1)) - 100)
           |      * (1 - 2 * (i % 2)) AS BIGINT) AS kv,
           |    CAST(i * 4 // n AS INT) AS w
           |  FROM sm),
           |r AS (SELECT doc_id, w, kv,
           |    i - MIN(i) OVER (PARTITION BY doc_id, w) AS ri
           |  FROM k),
           |agg AS (SELECT doc_id, w, COUNT(*) AS n_w,
           |    SUM(kv) AS dc,
           |    SUM(CASE WHEN ri % 4 = 0 THEN kv
           |             WHEN ri % 4 = 2 THEN -kv ELSE 0 END) AS c4,
           |    SUM(CASE WHEN ri % 4 = 1 THEN kv
           |             WHEN ri % 4 = 3 THEN -kv ELSE 0 END) AS s4,
           |    SUM(CASE WHEN ri % 2 = 0 THEN kv ELSE -kv END) AS ny
           |  FROM r GROUP BY doc_id, w)
           |SELECT doc_id, w AS window, CAST(n_w AS INT) AS n,
           |  CAST(dc * dc AS DOUBLE) / 262144.0
           |    / CAST(n_w * n_w AS DOUBLE) AS e_dc,
           |  CAST(c4 * c4 + s4 * s4 AS DOUBLE) / 262144.0
           |    / CAST(n_w * n_w AS DOUBLE) AS e_mid,
           |  CAST(ny * ny AS DOUBLE) / 262144.0
           |    / CAST(n_w * n_w AS DOUBLE) AS e_high
           |FROM agg""".stripMargin
      }),

    // Snapshot-export PARTITION-PRUNING parity (t65's successor): the
    // export goes out hive-partitioned and the oracle is DuckDB
    // scanning the partitioned layout WITH a partition filter
    // (hive_partitioning=1) — hash-equality against the
    // engine-internal readAt().filter(...) proves the partition
    // directories carry exactly the snapshot's rows, i.e. an external
    // engine pruning by directory name reads the same data the core
    // engine answers for that predicate.
    QueryDef(
      "t68_export_partition_prune",
      (s, dir) => {
        val cl = graft.operators.CommitLogTableFormat
        val base = Tables.gatePath(dir, "export_part")
        val fsPath = new org.apache.hadoop.fs.Path(base)
        fsPath.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(fsPath, true) // deterministic rebuild per run
        val table = s"$base/table"
        val orders = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice"), col("o_orderpriority"))
        cl.fullRefresh(s, orders.filter(col("o_orderkey") % 2 === 0)
          .withColumn("ver", lit(1L)), table)
        cl.upsert(s, orders.filter(col("o_orderkey") % 4 === 1)
          .withColumn("ver", lit(2L)), table, Seq("o_orderkey"), "ver")
        cl.exportSnapshot(s, table, 2L, s"$base/v2",
          partitionCols = Seq("o_orderpriority"))
        cl.readAt(s, table, 2L).get
          .filter(col("o_orderpriority").isin("1-URGENT", "3-MEDIUM"))
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice"), col("o_orderpriority"))
      },
      Some {
        val base = Tables.oracleGatePath("export_part")
        s"""SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
           |FROM read_parquet(
           |  '$base/v2/*/*.parquet',
           |  hive_partitioning=1)
           |WHERE o_orderpriority IN ('1-URGENT', '3-MEDIUM')"""
          .stripMargin
      }),

    // The retrain FLAG under the oracle: ivfCellStats' occupancy/skew
    // arithmetic rederived by DuckDB — per-cell counts are exact
    // integers, avg is one division, skew one more, all identical
    // IEEE ops either engine. skewBound 1.2 sits inside the real
    // occupancy spread at sf0.01 so the boolean column carries a
    // true/false MIX (a bound no cell trips would hash-match even
    // with broken comparison logic).
    QueryDef(
      "t70_ivf_cell_stats",
      (s, dir) => {
        val ann = graft.operators.Ann
        val all = spread(s, Tables(s, dir, "embeddings"))
          .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("v"))
        val cents = ann.trainCentroids(all, "vec_id", "v",
          nlist = 8, iters = 2)
        ann.ivfCellStats(
          ann.ivfAssignCells(all, "vec_id", "v", cents, "cent_id", "cv")
            .drop("d2"),
          skewBound = 1.2)
      },
      Some {
        s"""WITH ${lloydSql(8, 2)},
           |cents AS (SELECT * FROM c2),
           |cells AS (SELECT c_id, cell FROM (
           |  SELECT e.vec_id AS c_id, c.cent_id AS cell,
           |    row_number() OVER (PARTITION BY e.vec_id
           |      ORDER BY ${d2Trained("e", "c")} ASC, c.cent_id ASC) AS rn
           |  FROM embeddings e, cents c) WHERE rn = 1),
           |pc AS (SELECT cell, COUNT(*) AS n FROM cells GROUP BY cell),
           |a AS (SELECT AVG(n) AS avg_n FROM pc)
           |SELECT cell, n, CAST(n AS DOUBLE) / avg_n AS skew,
           |  CAST(n AS DOUBLE) / avg_n > 1.2 AS retrain
           |FROM pc, a""".stripMargin
      }),

    // IVF-PQ RETRAIN under the oracle (t66's successor — the other
    // half of the maintenance loop): a deployment published on the
    // even half drifts; ivfPqRetrain re-trains on the FULL corpus and
    // atomically swaps index + assets as one commit-log snapshot; the
    // search runs against the trio LOADED BACK from that snapshot.
    // The oracle trains on the full corpus from scratch (t34's SQL),
    // so hash-equality proves retrain-and-swap-then-load ==
    // from-scratch-rebuild — recall is restored to the rebuild value
    // by bit-identity, and the published artifact (not just in-memory
    // frames) is what's checked.
    QueryDef(
      "t69_ivfpq_retrain",
      (s, dir) => {
        val ann = graft.operators.Ann
        val base = gatePath(dir, "ann_deploy")
        val fsPath = new org.apache.hadoop.fs.Path(base)
        fsPath.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(fsPath, true) // deterministic rebuild per run
        val table = s"$base/ivfpq"
        // r12: the projected corpus is scanned ~14× (two full
        // trainings × (init + 2 Lloyd iterations + PQ init + 2 PQ
        // iterations) + two index encodes) — persist it once instead
        // of re-reading parquet + re-widening per pass (guide §5
        // "reused AND recomputing is more expensive"); released by
        // Bench/Verify via CacheRegistry between queries.
        val all = graft.CacheRegistry.track(
          spread(s, Tables(s, dir, "embeddings"))
            .select(col("vec_id"),
              VectorOps.asDouble(col("embedding")).as("v"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        // materialize before the concurrent trainings fan out — four
        // cold chains over one unmaterialized cache convoy on its
        // block locks (NearDup's r13 convoy note)
        all.count()
        val existing = all.filter(col("vec_id") % 2 === 0)
        // ALL FOUR trainings are independent of each other (v1 trains
        // on evens, v2 on the full corpus; coarse quantizer and PQ
        // codebooks never read each other) — only the PUBLISHES are
        // ordered (v1's commit precedes v2's one-commit swap). Submit
        // the four driver-sequenced Lloyd loops concurrently and keep
        // the publish order (guide §2.6; the serial job stream made
        // this gate run FASTER on 8 cores than 32 in r12).
        val ts = graft.Par.parN(Seq(
          () => ann.trainCentroids(existing, "vec_id", "v",
            nlist = 8, iters = 2),
          () => ann.trainPq(existing, "vec_id", "v",
            PqM, PqDsub, PqKsub, PqIters),
          () => ann.trainCentroids(all, "vec_id", "v",
            nlist = 8, iters = 2),
          () => ann.trainPq(all, "vec_id", "v",
            PqM, PqDsub, PqKsub, PqIters)))
        val (cents0, books0) = (ts(0), ts(1))
        ann.ivfPqPublish(s, table, ann.ivfPqIndex(existing, "vec_id",
          "v", cents0, "cent_id", "cv", books0, PqM, PqDsub),
          cents0, books0)
        // version 2: trained above, one-commit swap (identical to the
        // former ivfPqRetrain call — same train/index/publish steps,
        // trainings hoisted into the concurrent batch)
        val (cents2, books2) = (ts(2), ts(3))
        ann.ivfPqPublish(s, table, ann.ivfPqIndex(all, "vec_id",
          "v", cents2, "cent_id", "cv", books2, PqM, PqDsub),
          cents2, books2)
        val (index, cents, books) = ann.ivfPqLoad(s, table).get
        val probes = Tables(s, dir, "embeddings")
          .filter(col("vec_id") < 5)
          .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("v"))
        ann.ivfPqSearchIndexed(index, probes, "vec_id", "v", cents,
          "cent_id", "cv", books, PqM, PqDsub, k = 3, nprobe = 2)
      },
      Some {
        val pdSum = (0 until PqM).map(i => s"pd$i").mkString(" + ")
        val pivotPd = (0 until PqM)
          .map(i => s"MAX(CASE WHEN e.sub = $i THEN l.pd END) AS pd$i")
          .mkString(", ")
        s"""WITH ${lloydSql(8, 2)},
           |${pqLloydSql(PqM, PqDsub, PqKsub, PqIters)},
           |cents AS (SELECT * FROM c2),
           |cells AS (SELECT c_id, cell FROM (
           |  SELECT e.vec_id AS c_id, c.cent_id AS cell,
           |    row_number() OVER (PARTITION BY e.vec_id
           |      ORDER BY ${d2Trained("e", "c")} ASC, c.cent_id ASC) AS rn
           |  FROM embeddings e, cents c) WHERE rn = 1),
           |pcells AS (SELECT p_id, cell FROM (
           |  SELECT p.vec_id AS p_id, c.cent_id AS cell,
           |    row_number() OVER (PARTITION BY p.vec_id
           |      ORDER BY ${d2Trained("p", "c")} ASC, c.cent_id ASC) AS rn
           |  FROM (SELECT * FROM embeddings WHERE vec_id < 5) p, cents c)
           |  WHERE rn <= 2),
           |enc AS (SELECT vec_id, sub, code FROM (
           |  SELECT e.vec_id, c.sub, c.code,
           |    row_number() OVER (PARTITION BY e.vec_id, c.sub
           |      ORDER BY ${pqD2Sql("e", "c", PqDsub)} ASC, c.code ASC) AS rn
           |  FROM embeddings e, b$PqIters c) WHERE rn = 1),
           |lut AS (SELECT p.vec_id AS p_id, c.sub, c.code,
           |    ${pqD2Sql("p", "c", PqDsub)} AS pd
           |  FROM (SELECT * FROM embeddings WHERE vec_id < 5) p,
           |       b$PqIters c),
           |j AS (SELECT l.p_id, e.vec_id AS c_id, $pivotPd
           |  FROM enc e
           |  JOIN cells cl ON cl.c_id = e.vec_id
           |  JOIN pcells pc ON pc.cell = cl.cell
           |  JOIN lut l ON l.sub = e.sub AND l.code = e.code
           |    AND l.p_id = pc.p_id
           |  WHERE e.vec_id <> pc.p_id GROUP BY l.p_id, e.vec_id),
           |scored AS (SELECT p_id, c_id, round($pdSum, 6) AS ad2 FROM j)
           |SELECT p_id, rn, c_id, ad2 FROM (
           |  SELECT *, row_number() OVER (PARTITION BY p_id
           |    ORDER BY ad2 ASC, c_id ASC) AS rn FROM scored)
           |WHERE rn <= 3""".stripMargin
      }),

    // Deterministic GLOBAL shuffle (reproducible training order): the
    // operator ranks by (15-hex-char md5 long, id) through the
    // two-level bucket-offset decomposition (no single global
    // window); the oracle is the naive single-window rank over the
    // same pure hash — hash-equality proves the decomposition IS the
    // global permutation, the t33 pattern applied to ordering.
    QueryDef(
      "t71_deterministic_shuffle",
      (s, dir) => graft.operators.Sample.deterministicShuffle(
        spread(s, docs(s, dir)), "doc_id", "graft-shuffle")
        .select(col("doc_id"), col("pos")),
      Some {
        val h = DuckSql.hexToLong(
          "md5('graft-shuffle|' || CAST(doc_id AS VARCHAR))", 15)
        s"""SELECT doc_id,
           |  row_number() OVER (ORDER BY $h ASC, doc_id ASC) - 1 AS pos
           |FROM documents""".stripMargin
      }),

    // Image perceptual hash (dHash) through the REAL lossless codec:
    // each document's first 72 ASCII bytes become a 9x8 grayscale PNG
    // (graft.multimodal.grayPng), decode runs through javax.imageio
    // (decodeImageGray -- gray pixels round-trip EXACTLY because PNG
    // is lossless and the luminance weights sum to 1000), and the
    // 64-bit difference hash is a native expression over the pixel
    // array. The oracle never touches a codec: it rederives every
    // gradient-sign bit from the same bytes with substr/ord
    // arithmetic -- hash-equality proves codec losslessness AND hash
    // arithmetic in one gate. The signature splits into two 32-bit
    // halves so neither engine shifts into the BIGINT sign bit.
    QueryDef(
      "t72_image_dhash",
      (s, dir) => {
        import s.implicits._
        import graft.multimodal.{Multimodal => mm}
        val media = spread(s, docs(s, dir))
          .filter(octet_length(col("text")) === length(col("text")) &&
            length(col("text")) >= 72 && col("doc_id") % 3 === 1)
          .select(col("doc_id"), col("text")).as[(Long, String)]
          .mapPartitions { it =>
            it.map { case (id, text) =>
              val gray = text.substring(0, 72).getBytes("US-ASCII")
                .map(_.toInt)
              mm.MediaRecord(id, "image", "image/png", 9, 8, 0L,
                mm.grayPng(gray, 9, 8))
            }
          }
        mm.decodeImageGray(media).toDF()
          .withColumn("dhash", graft.functions.ImageOps.dHash("gray"))
          .select(col("media_id").as("doc_id"),
            shiftrightunsigned(col("dhash"), 32).as("h_hi"),
            col("dhash").bitwiseAND(lit(0xffffffffL)).as("h_lo"))
      },
      Some {
        def half(lo: Int, hi: Int, shift: Int): String =
          (lo until hi).map { i =>
            val j = (i / 8) * 9 + (i % 8)
            val w = 1L << (i - shift)
            s"(CASE WHEN ord(substr(text, ${j + 2}, 1)) > " +
              s"ord(substr(text, ${j + 1}, 1)) THEN ${w} ELSE 0 END)"
          }.mkString("(", " + ", ")")
        s"""SELECT doc_id,
           |  CAST(${half(32, 64, 32)} AS BIGINT) AS h_hi,
           |  CAST(${half(0, 32, 0)} AS BIGINT) AS h_lo
           |FROM documents
           |WHERE octet_length(encode(text)) = length(text)
           |  AND length(text) >= 72 AND doc_id % 3 = 1""".stripMargin
      }),

    // Image NEAR-DUP dedup composed end-to-end: id-derived 9x8
    // grayscale families (members of family doc_id DIV 3 differ only
    // in the last pixel -> dHash hamming <= 1 inside a family; the
    // shared gradient pattern also puts many FAMILIES within radius of
    // each other, so the corpus collapses deeply — a harder test of
    // the machinery than isolated pairs), REAL PNG encode + decode,
    // native dHash, then the SAME paired-block banding / hamming
    // verify / smaller-id survivor machinery as text SimHash
    // (NearDup.dedupBySignature).
    // The oracle brute-forces every pairwise hamming distance from the
    // same id arithmetic (no codec, no banding): a doc survives iff no
    // smaller doc sits within hamming 3 -- exact because the
    // paired-block scheme is recall-complete at the radius.
    QueryDef(
      "t73_image_neardup",
      (s, dir) => {
        import s.implicits._
        import graft.multimodal.{Multimodal => mm}
        val media = spread(s, docs(s, dir))
          .select(col("doc_id")).as[Long]
          .mapPartitions { it =>
            it.map { id =>
              val fam = id / 3
              val mem = id % 3
              val gray = Array.tabulate(72) { j =>
                if (j == 71) ((fam * 37 + 71 * 71 + mem * 97) % 251).toInt
                else ((fam * 37 + j.toLong * j) % 251).toInt
              }
              mm.MediaRecord(id, "image", "image/png", 9, 8, 0L,
                mm.grayPng(gray, 9, 8))
            }
          }
        val sigs = mm.decodeImageGray(media).toDF()
          .withColumn("dhash", graft.functions.ImageOps.dHash("gray"))
          .select(col("media_id").as("doc_id"), col("dhash"))
        graft.operators.NearDup.dedupBySignature(sigs, "doc_id",
          "dhash", maxHamming = 3)
          .select(col("doc_id"))
      },
      Some {
        val g = "CASE WHEN j = 71 THEN (fam * 37 + 5041 + mem * 97) % 251 " +
          "ELSE (fam * 37 + j * j) % 251 END"
        s"""WITH d AS (SELECT doc_id, doc_id // 3 AS fam,
           |    doc_id % 3 AS mem FROM documents),
           |pix AS (SELECT doc_id, j, $g AS gv
           |  FROM d, (SELECT unnest(range(72)) AS j)),
           |bits AS (SELECT p1.doc_id, t.i,
           |    CASE WHEN p2.gv > p1.gv THEN 1 ELSE 0 END AS b
           |  FROM (SELECT unnest(range(64)) AS i) t
           |  JOIN pix p1 ON p1.j = (t.i // 8) * 9 + (t.i % 8)
           |  JOIN pix p2 ON p2.doc_id = p1.doc_id
           |    AND p2.j = (t.i // 8) * 9 + (t.i % 8) + 1),
           |ham AS (SELECT x.doc_id AS hi_id, y.doc_id AS lo_id,
           |    SUM(CASE WHEN x.b <> y.b THEN 1 ELSE 0 END) AS h
           |  FROM bits x JOIN bits y ON x.i = y.i
           |    AND x.doc_id > y.doc_id
           |  GROUP BY 1, 2),
           |removed AS (SELECT DISTINCT hi_id FROM ham WHERE h <= 3)
           |SELECT doc_id FROM d
           |WHERE doc_id NOT IN (SELECT hi_id FROM removed)"""
          .stripMargin
      }),

    // COMPRESSED audio decode under the oracle (the declared
    // compressed-audio stub shrinks): docs synthesize G.711 μ-law
    // WAVs — encoded byte i = ord(char) + 128·(i%2), covering both
    // polarities — the REAL path (javax.sound parses the format-tag-7
    // container, AudioDecoder.ulawToLinear expands the companded
    // bytes) decodes them, and the SAME native windowed RMS/ZCR as
    // t64 runs downstream. The G.711 expansion is pure integer
    // arithmetic, so the oracle recomputes every linear sample from
    // ord() — complement, segment, mantissa — and the exact-binary-
    // fraction contract holds: Σk² is an exact BIGINT both engines
    // scale by 2⁻³⁰ and divide once, IEEE-identically.
    QueryDef(
      "t74_g711_audio",
      (s, dir) => {
        import s.implicits._
        import graft.multimodal.{Multimodal => mm}
        val media = spread(s, docs(s, dir))
          .filter(octet_length(col("text")) === length(col("text")) &&
            length(col("text")) >= 8 && col("doc_id") % 3 === 0)
          .select(col("doc_id"), col("text")).as[(Long, String)]
          .mapPartitions { it =>
            it.map { case (id, text) =>
              val bytes = text.getBytes("US-ASCII")
              val enc = Array.tabulate(bytes.length)(i =>
                ((bytes(i) & 0xff) + (i % 2) * 128).toByte)
              mm.MediaRecord(id, "audio", "audio/basic", 0, 0,
                bytes.length * 1000L / 8000L, mm.wavG711(enc, 8000))
            }
          }
        mm.decodeAudioSamples(media).toDF()
          .select(col("media_id").as("doc_id"),
            explode(graft.functions.AudioOps.windowFeatures("samples", 4))
              .as("f"))
          .select(col("doc_id"), col("f.window").as("window"),
            col("f.n").as("n"), col("f.rms").as("rms"),
            col("f.zcr").as("zcr"))
      },
      Some {
        s"""WITH a AS (
           |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
           |  FROM documents
           |  WHERE octet_length(encode(text)) = length(text)
           |    AND length(text) >= 8 AND doc_id % 3 = 0),
           |sm AS (SELECT doc_id, n, unnest(range(n)) AS i, text FROM a),
           |u AS (SELECT doc_id, n, i,
           |    255 - (ord(substr(text, CAST(i + 1 AS INT), 1))
           |      + 128 * (i % 2)) AS uv,
           |    CAST(i * 4 // n AS INT) AS w
           |  FROM sm),
           |k AS (SELECT doc_id, i, w,
           |    CAST(CASE WHEN uv >= 128
           |      THEN 132 - ((uv % 16) * 8 + 132) * (1 << ((uv // 16) % 8))
           |      ELSE ((uv % 16) * 8 + 132) * (1 << ((uv // 16) % 8)) - 132
           |    END AS BIGINT) AS kv
           |  FROM u),
           |p AS (SELECT doc_id, w, kv,
           |    lag(kv) OVER (PARTITION BY doc_id ORDER BY i) AS pk,
           |    lag(w) OVER (PARTITION BY doc_id ORDER BY i) AS pw
           |  FROM k),
           |agg AS (SELECT doc_id, w, COUNT(*) AS n_w,
           |    CAST(SUM(kv * kv) AS BIGINT) AS k2,
           |    CAST(COALESCE(SUM(CASE WHEN pw = w AND pk * kv < 0
           |      THEN 1 ELSE 0 END), 0) AS INT) AS zcr
           |  FROM p GROUP BY doc_id, w)
           |SELECT doc_id, w AS window, CAST(n_w AS INT) AS n,
           |  sqrt(CAST(k2 AS DOUBLE) / 1073741824.0 / CAST(n_w AS DOUBLE))
           |    AS rms,
           |  zcr
           |FROM agg""".stripMargin
      }),

    // SECOND real video container (t63's sibling): each selected doc
    // becomes an ANIMATED GIF of solid-gray frames, split by GifCodec
    // (javax.imageio's multi-frame GIF reader), frame-sampled at
    // 100 ms and decoded back for pixel stats. GIF is LOSSLESS
    // (palette-indexed), so unlike t63 no DC argument is needed — the
    // gray value survives encode/decode bit-for-bit by format
    // construction, and DuckDB recomputes mean luminance
    // arithmetically.
    QueryDef(
      "t75_gif_frames",
      (s, dir) => {
        import s.implicits._
        import graft.multimodal.{Multimodal => mm}
        val media = spread(s, docs(s, dir))
          .filter(col("doc_id") % 3 === 1)
          .select(col("doc_id"), (col("doc_id") % 4 + 1).cast("int").as("nf"))
          .as[(Long, Int)]
          .mapPartitions { it =>
            it.map { case (id, nf) =>
              val frames = (0 until nf).map { i =>
                Array.fill(16 * 16)(((id * 41 + i * 59) % 256).toInt)
              }
              mm.MediaRecord(id, "video", "image/gif", 16, 16,
                nf * 100L, mm.gifAnimated(frames, 16, 16))
            }
          }
        mm.frameStats(mm.sampleFramesDecoded(media, everyMs = 100,
          codec = mm.GifCodec)).toDF()
          .select(col("media_id").as("doc_id"), col("frame_idx"),
            col("ts_ms"), col("width"), col("height"), col("mean_lum"))
      },
      Some {
        s"""WITH v AS (
           |  SELECT doc_id, CAST(doc_id % 4 + 1 AS BIGINT) AS nf
           |  FROM documents WHERE doc_id % 3 = 1),
           |f AS (SELECT doc_id, unnest(range(nf)) AS i FROM v)
           |SELECT doc_id, CAST(i AS INT) AS frame_idx,
           |  CAST(i * 100 AS BIGINT) AS ts_ms,
           |  CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
           |  CAST((doc_id * 41 + i * 59) % 256 AS DOUBLE) AS mean_lum
           |FROM f""".stripMargin
      }),

    // Audio perceptual fingerprint (the audio dHash — t72's sibling):
    // docs synthesize 16-bit PCM WAVs (the t64 sample construction),
    // the REAL javax.sound path decodes them, and the 64-bit
    // energy-envelope gradient signature is a native expression over
    // the samples column (65 windows, bit w = energy(w+1) >
    // energy(w)). Window energies are exact binary fractions, so the
    // oracle rederives every comparison from BIGINT Σk² — the 32-bit
    // halves keep both engines off the sign bit, as in t72.
    QueryDef(
      "t76_audio_fingerprint",
      (s, dir) => {
        import s.implicits._
        import graft.multimodal.{Multimodal => mm}
        val media = spread(s, docs(s, dir))
          .filter(octet_length(col("text")) === length(col("text")) &&
            length(col("text")) >= 130 && col("doc_id") % 3 === 2)
          .select(col("doc_id"), col("text")).as[(Long, String)]
          .mapPartitions { it =>
            it.map { case (id, text) =>
              val bytes = text.getBytes("US-ASCII")
              val samples = Array.tabulate(bytes.length) { i =>
                val k = (bytes(i) - 100) * (if (i % 2 == 1) -1 else 1)
                (k * 64).toShort
              }
              mm.MediaRecord(id, "audio", "audio/wav", 0, 0,
                bytes.length * 1000L / 8000L, mm.wavPcm16(samples, 8000))
            }
          }
        mm.decodeAudioSamples(media).toDF()
          .withColumn("fp",
            graft.functions.AudioOps.audioFingerprint("samples"))
          .select(col("media_id").as("doc_id"),
            shiftrightunsigned(col("fp"), 32).as("h_hi"),
            col("fp").bitwiseAND(lit(0xffffffffL)).as("h_lo"))
      },
      Some {
        s"""WITH a AS (
           |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
           |  FROM documents
           |  WHERE octet_length(encode(text)) = length(text)
           |    AND length(text) >= 130 AND doc_id % 3 = 2),
           |sm AS (SELECT doc_id, n, unnest(range(n)) AS i, text FROM a),
           |k AS (SELECT doc_id,
           |    CAST((ord(substr(text, CAST(i + 1 AS INT), 1)) - 100)
           |      * (1 - 2 * (i % 2)) AS BIGINT) AS kv,
           |    CAST(i * 65 // n AS INT) AS w
           |  FROM sm),
           |e AS (SELECT doc_id, w, SUM(kv * kv) AS ew
           |  FROM k GROUP BY doc_id, w),
           |b AS (SELECT doc_id, w, ew,
           |    lead(ew) OVER (PARTITION BY doc_id ORDER BY w) AS en
           |  FROM e)
           |SELECT doc_id,
           |  CAST(SUM(CASE WHEN w >= 32 AND w < 64 AND en > ew
           |    THEN (CAST(1 AS BIGINT) << CAST(w - 32 AS INT))
           |    ELSE 0 END) AS BIGINT) AS h_hi,
           |  CAST(SUM(CASE WHEN w < 32 AND en > ew
           |    THEN (CAST(1 AS BIGINT) << CAST(w AS INT))
           |    ELSE 0 END) AS BIGINT) AS h_lo
           |FROM b GROUP BY doc_id""".stripMargin
      }),

    // Audio NEAR-DUP dedup composed end-to-end (t73's audio sibling,
    // completing the modality triad: text SimHash, image dHash, audio
    // energy fingerprint — all through the SAME
    // NearDup.dedupBySignature machinery). Id-derived 65-window
    // energy families: members of family doc_id DIV 3 differ only in
    // the last window's level, so fingerprints sit at hamming <= 1
    // inside a family; the shared envelope shape also puts families
    // within radius of each other. REAL WAV encode + javax.sound
    // decode, native fingerprint, paired-block banding / hamming
    // verify / smaller-id survivor. The oracle brute-forces every
    // pairwise hamming from the same id arithmetic (no codec, no
    // banding) — exact because the paired-block scheme is
    // recall-complete at the radius.
    QueryDef(
      "t77_audio_neardup",
      (s, dir) => {
        import s.implicits._
        import graft.multimodal.{Multimodal => mm}
        val media = spread(s, docs(s, dir))
          .select(col("doc_id")).as[Long]
          .mapPartitions { it =>
            it.map { id =>
              val fam = id / 3
              val mem = id % 3
              val samples = new Array[Short](130)
              var w = 0
              while (w < 65) {
                val h = (if (w == 64) (fam * 37 + 4096 + mem * 97) % 251
                  else (fam * 37 + w.toLong * w) % 251) - 125
                samples(2 * w) = (h * 64).toShort
                samples(2 * w + 1) = (h * 64).toShort
                w += 1
              }
              mm.MediaRecord(id, "audio", "audio/wav", 0, 0,
                130 * 1000L / 8000L, mm.wavPcm16(samples, 8000))
            }
          }
        val sigs = mm.decodeAudioSamples(media).toDF()
          .withColumn("fp",
            graft.functions.AudioOps.audioFingerprint("samples"))
          .select(col("media_id").as("doc_id"), col("fp"))
        graft.operators.NearDup.dedupBySignature(sigs, "doc_id",
          "fp", maxHamming = 3)
          .select(col("doc_id"))
      },
      Some {
        s"""WITH d AS (SELECT doc_id, doc_id // 3 AS fam,
           |    doc_id % 3 AS mem FROM documents),
           |hv AS (SELECT doc_id, w,
           |    (CASE WHEN w = 64 THEN (fam * 37 + 4096 + mem * 97) % 251
           |          ELSE (fam * 37 + w * w) % 251 END) - 125 AS h
           |  FROM d, (SELECT unnest(range(65)) AS w)),
           |bits AS (SELECT h1.doc_id, h1.w AS i,
           |    CASE WHEN h2.h * h2.h > h1.h * h1.h THEN 1 ELSE 0 END AS b
           |  FROM hv h1 JOIN hv h2 ON h2.doc_id = h1.doc_id
           |    AND h2.w = h1.w + 1
           |  WHERE h1.w < 64),
           |ham AS (SELECT x.doc_id AS hi_id, y.doc_id AS lo_id,
           |    SUM(CASE WHEN x.b <> y.b THEN 1 ELSE 0 END) AS h
           |  FROM bits x JOIN bits y ON x.i = y.i
           |    AND x.doc_id > y.doc_id
           |  GROUP BY 1, 2),
           |removed AS (SELECT DISTINCT hi_id FROM ham WHERE h <= 3)
           |SELECT doc_id FROM d
           |WHERE doc_id NOT IN (SELECT hi_id FROM removed)"""
          .stripMargin
      }),

    // INCREMENTAL image near-dup (t73's amortized-corpus form under
    // t26's id-parity contract): even docs are the canonical corpus —
    // their dHash band index is materialized once (signatureBands) —
    // and odd docs arrive as the daily append, deduping against the
    // index AND themselves through the signature-generic incremental
    // core (dedupBySignatureIncremental). Existing docs always win;
    // an incoming doc drops if within hamming 3 of any existing or
    // any smaller incoming signature. Families of 4 (doc_id DIV 4)
    // put every %4∈{0,1,2} member within hamming 1 of an even
    // sibling — those incoming drop — while %4=3 docs carry a unique
    // id-derived pattern, so a real survivor population exists (16 at
    // sf0.01), exercising both outcomes. Both sides run the REAL PNG
    // encode/decode; the oracle brute-forces the policy from the same
    // id arithmetic (no codec, no banding) — exact because the
    // paired-block scheme is recall-complete at the radius.
    QueryDef(
      "t78_image_neardup_incremental",
      (s, dir) => {
        import s.implicits._
        import graft.multimodal.{Multimodal => mm}
        def sigsOf(ids: DataFrame): DataFrame = {
          val media = ids.select(col("doc_id")).as[Long]
            .mapPartitions { it =>
              it.map { id =>
                val gray = Array.tabulate(72) { j =>
                  if (id % 4 == 3)
                    ((id * 73 + j.toLong * j * 31) % 251).toInt
                  else {
                    val g = id / 4
                    if (j == 71) ((g * 37 + 5041 + (id % 4) * 97) % 251).toInt
                    else ((g * 37 + j.toLong * j) % 251).toInt
                  }
                }
                mm.MediaRecord(id, "image", "image/png", 9, 8, 0L,
                  mm.grayPng(gray, 9, 8))
              }
            }
          mm.decodeImageGray(media).toDF()
            .withColumn("dhash", graft.functions.ImageOps.dHash("gray"))
            .select(col("media_id").as("doc_id"), col("dhash"))
        }
        val d = spread(s, docs(s, dir))
        val exBands = graft.operators.NearDup.signatureBands(
          sigsOf(d.filter(col("doc_id") % 2 === 0)), "doc_id", "dhash")
        graft.operators.NearDup.dedupBySignatureIncremental(
          sigsOf(d.filter(col("doc_id") % 2 === 1)), "doc_id", "dhash",
          exBands).select(col("doc_id"))
      },
      Some {
        val g = "CASE WHEN doc_id % 4 = 3 THEN (doc_id * 73 + j * j * 31) % 251 " +
          "WHEN j = 71 THEN ((doc_id // 4) * 37 + 5041 + (doc_id % 4) * 97) % 251 " +
          "ELSE ((doc_id // 4) * 37 + j * j) % 251 END"
        s"""WITH d AS (SELECT doc_id FROM documents),
           |pix AS (SELECT doc_id, j, $g AS gv
           |  FROM d, (SELECT unnest(range(72)) AS j)),
           |bits AS (SELECT p1.doc_id, t.i,
           |    CASE WHEN p2.gv > p1.gv THEN 1 ELSE 0 END AS b
           |  FROM (SELECT unnest(range(64)) AS i) t
           |  JOIN pix p1 ON p1.j = (t.i // 8) * 9 + (t.i % 8)
           |  JOIN pix p2 ON p2.doc_id = p1.doc_id
           |    AND p2.j = (t.i // 8) * 9 + (t.i % 8) + 1),
           |ham AS (SELECT x.doc_id AS in_id, y.doc_id AS o_id,
           |    SUM(CASE WHEN x.b <> y.b THEN 1 ELSE 0 END) AS h
           |  FROM bits x JOIN bits y ON x.i = y.i
           |    AND x.doc_id % 2 = 1 AND y.doc_id <> x.doc_id
           |    AND (y.doc_id % 2 = 0 OR y.doc_id < x.doc_id)
           |  GROUP BY 1, 2),
           |removed AS (SELECT DISTINCT in_id FROM ham WHERE h <= 3)
           |SELECT doc_id FROM d WHERE doc_id % 2 = 1
           |  AND doc_id NOT IN (SELECT in_id FROM removed)"""
          .stripMargin
      }),

    // Scene-change detection over REAL decoded video (t75's GIF
    // corpus): consecutive frame luminances step by +59 mod 256, so
    // |delta| is 59 (no boundary at threshold 64) except where the
    // value wraps (delta −197 — a boundary). The cut detector is a
    // declarative lag window over frameStats rows; the oracle replays
    // the gray arithmetic and the same lag/threshold in SQL. Only
    // clips with nf ≥ 2 can produce rows, and only wrap frames do —
    // both presence and absence are pinned.
    QueryDef(
      "t79_scene_changes",
      (s, dir) => {
        import s.implicits._
        import graft.multimodal.{Multimodal => mm}
        val media = spread(s, docs(s, dir))
          .filter(col("doc_id") % 3 === 1)
          .select(col("doc_id"), (col("doc_id") % 4 + 1).cast("int").as("nf"))
          .as[(Long, Int)]
          .mapPartitions { it =>
            it.map { case (id, nf) =>
              val frames = (0 until nf).map { i =>
                Array.fill(16 * 16)(((id * 41 + i * 59) % 256).toInt)
              }
              mm.MediaRecord(id, "video", "image/gif", 16, 16,
                nf * 100L, mm.gifAnimated(frames, 16, 16))
            }
          }
        mm.sceneChanges(
          mm.frameStats(mm.sampleFramesDecoded(media, everyMs = 100,
            codec = mm.GifCodec)), threshold = 64.0)
          .select(col("media_id").as("doc_id"), col("frame_idx"),
            col("ts_ms"), col("delta_lum"))
      },
      Some {
        s"""WITH v AS (
           |  SELECT doc_id, CAST(doc_id % 4 + 1 AS BIGINT) AS nf
           |  FROM documents WHERE doc_id % 3 = 1),
           |f AS (SELECT doc_id, unnest(range(nf)) AS i FROM v),
           |g AS (SELECT doc_id, i,
           |    CAST((doc_id * 41 + i * 59) % 256 AS DOUBLE) AS lum
           |  FROM f),
           |d AS (SELECT doc_id, i, lum,
           |    lag(lum) OVER (PARTITION BY doc_id ORDER BY i) AS pl
           |  FROM g)
           |SELECT doc_id, CAST(i AS INT) AS frame_idx,
           |  CAST(i * 100 AS BIGINT) AS ts_ms, lum - pl AS delta_lum
           |FROM d WHERE pl IS NOT NULL AND abs(lum - pl) >= 64"""
          .stripMargin
      }),

    // VIDEO near-dup end-to-end: each doc becomes a 2-frame animated
    // GIF whose FIRST frame carries the t73 9x8 family pattern (frame
    // 1 is constant filler — representative-frame selection must
    // ignore it); the pipeline samples frames through the REAL codec,
    // filters to frame 0 BEFORE decoding (only that frame's bytes are
    // touched), decodes to typed pixels, dHashes natively, and runs
    // the SAME signature dedup as still images and audio. The oracle
    // is t73's brute-force pairwise hamming over the frame-0
    // arithmetic — video-level near-dup reduces exactly to its
    // representative frame's image near-dup.
    QueryDef(
      "t80_video_neardup",
      (s, dir) => {
        import s.implicits._
        import graft.multimodal.{Multimodal => mm}
        val media = spread(s, docs(s, dir))
          .select(col("doc_id")).as[Long]
          .mapPartitions { it =>
            it.map { id =>
              val fam = id / 3
              val mem = id % 3
              val f0 = Array.tabulate(72) { j =>
                if (j == 71) ((fam * 37 + 71 * 71 + mem * 97) % 251).toInt
                else ((fam * 37 + j.toLong * j) % 251).toInt
              }
              val f1 = Array.fill(72)(128)
              mm.MediaRecord(id, "video", "image/gif", 9, 8, 200L,
                mm.gifAnimated(Seq(f0, f1), 9, 8))
            }
          }
        val firstFrames = mm.sampleFramesDecoded(media, everyMs = 100,
          codec = mm.GifCodec).filter(col("frame_idx") === 0)
        val sigs = mm.decodeFrameGray(firstFrames).toDF()
          .withColumn("dhash", graft.functions.ImageOps.dHash("gray"))
          .select(col("media_id").as("doc_id"), col("dhash"))
        graft.operators.NearDup.dedupBySignature(sigs, "doc_id",
          "dhash", maxHamming = 3)
          .select(col("doc_id"))
      },
      Some {
        val g = "CASE WHEN j = 71 THEN (fam * 37 + 5041 + mem * 97) % 251 " +
          "ELSE (fam * 37 + j * j) % 251 END"
        s"""WITH d AS (SELECT doc_id, doc_id // 3 AS fam,
           |    doc_id % 3 AS mem FROM documents),
           |pix AS (SELECT doc_id, j, $g AS gv
           |  FROM d, (SELECT unnest(range(72)) AS j)),
           |bits AS (SELECT p1.doc_id, t.i,
           |    CASE WHEN p2.gv > p1.gv THEN 1 ELSE 0 END AS b
           |  FROM (SELECT unnest(range(64)) AS i) t
           |  JOIN pix p1 ON p1.j = (t.i // 8) * 9 + (t.i % 8)
           |  JOIN pix p2 ON p2.doc_id = p1.doc_id
           |    AND p2.j = (t.i // 8) * 9 + (t.i % 8) + 1),
           |ham AS (SELECT x.doc_id AS hi_id, y.doc_id AS lo_id,
           |    SUM(CASE WHEN x.b <> y.b THEN 1 ELSE 0 END) AS h
           |  FROM bits x JOIN bits y ON x.i = y.i
           |    AND x.doc_id > y.doc_id
           |  GROUP BY 1, 2),
           |removed AS (SELECT DISTINCT hi_id FROM ham WHERE h <= 3)
           |SELECT doc_id FROM d
           |WHERE doc_id NOT IN (SELECT hi_id FROM removed)"""
          .stripMargin
      }),

    // Cluster-balanced diversity sampling: centroids train on the
    // full corpus (t23's exact Lloyd chain), every vector assigns to
    // its nearest cell, and each cell keeps at most 20 vectors by the
    // t58 salted-bucket selection — the semantic twin of the
    // per-source cap (one REGION of embedding space can't dominate
    // the mix). The oracle composes the two proven chains: the
    // generated Lloyd CTEs + assignment window, then the cap window
    // over the SAME md5-bucket ordering.
    QueryDef(
      "t81_cluster_balanced_sample",
      (s, dir) => {
        val ann = graft.operators.Ann
        val all = spread(s, Tables(s, dir, "embeddings"))
          .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("v"))
        val cents = ann.trainCentroids(all, "vec_id", "v",
          nlist = 8, iters = 2)
        graft.operators.Sample.clusterBalancedSample(all, "vec_id", "v",
          cents, "cent_id", "cv", cap = 20)
          .select(col("vec_id"), col("cell"))
      },
      Some {
        val bucket = DuckSql.hexToLong(
          "md5('graft-cap|' || CAST(vec_id AS VARCHAR))", 8)
        s"""WITH ${lloydSql(8, 2)},
           |cells AS (SELECT vec_id, cell FROM (
           |  SELECT e.vec_id, c.cent_id AS cell,
           |    row_number() OVER (PARTITION BY e.vec_id
           |      ORDER BY ${d2Trained("e", "c")} ASC, c.cent_id ASC) AS rn
           |  FROM embeddings e, c2 c) WHERE rn = 1),
           |ranked AS (SELECT vec_id, cell, row_number() OVER (
           |    PARTITION BY cell
           |    ORDER BY $bucket % 1000000, vec_id) AS rn
           |  FROM cells)
           |SELECT vec_id, cell FROM ranked WHERE rn <= 20"""
          .stripMargin
      }),

    // PREDICTIVE compressed audio under the oracle: IMA ADPCM (WAV
    // format tag 0x11) carries per-sample STATE — each sample is the
    // previous sample plus a step-table delta, with the step index
    // itself walked by the nibble — so unlike G.711 (t74, stateless
    // per byte) the oracle must replay a RECURSION: a recursive CTE
    // carries (predictor, index) step by step through the exact
    // integer arithmetic of the IMA spec. The JDK's WaveFileReader
    // genuinely rejects tag 0x11 (spec-asserted), so the RIFF walk,
    // block-state header, and nibble unpack are all ours. Output pins
    // every decoded sample via (n, Σk, Σk², Σk·pos) per doc.
    QueryDef(
      "t82_adpcm_audio",
      (s, dir) => {
        import s.implicits._
        import graft.multimodal.{Multimodal => mm}
        val media = spread(s, docs(s, dir))
          .filter(octet_length(col("text")) === length(col("text")) &&
            length(col("text")) >= 8 && col("doc_id") % 3 === 0)
          .select(col("doc_id"), col("text")).as[(Long, String)]
          .mapPartitions { it =>
            it.map { case (id, text) =>
              val bytes = text.getBytes("US-ASCII")
              val m = bytes.length - (bytes.length % 2)
              val nibs = Array.tabulate(m)(i => bytes(i) % 16)
              mm.MediaRecord(id, "audio", "audio/wav", 0, 0,
                (m + 1) * 1000L / 8000L, mm.wavImaAdpcm(nibs, 8000))
            }
          }
        mm.decodeAudioSamples(media).toDF()
          .select(col("media_id").as("doc_id"),
            posexplode(col("samples")).as(Seq("pos", "x")))
          // samples are k/32768 exactly, so k recovers exactly
          .withColumn("k", (col("x").cast("double") * 32768.0).cast("long"))
          .groupBy("doc_id")
          .agg(count(lit(1)).cast("int").as("n"),
            sum(col("k")).as("sum_k"),
            sum(col("k") * col("k")).as("sum_k2"),
            sum(col("k") * col("pos")).as("sum_ki"))
      },
      Some {
        val stepVals = graft.multimodal.Multimodal.AudioDecoder.ImaStep
          .zipWithIndex.map { case (v, i) => s"($i, $v)" }.mkString(", ")
        val idxVals = graft.multimodal.Multimodal.AudioDecoder.ImaIndexDelta
          .zipWithIndex.map { case (v, i) => s"($i, $v)" }.mkString(", ")
        s"""WITH RECURSIVE
           |a AS (SELECT doc_id, text,
           |    CAST(length(text) - length(text) % 2 AS BIGINT) AS m
           |  FROM documents
           |  WHERE octet_length(encode(text)) = length(text)
           |    AND length(text) >= 8 AND doc_id % 3 = 0),
           |steps(sidx, step) AS (VALUES $stepVals),
           |itab(nv, delta) AS (VALUES $idxVals),
           |nib AS (SELECT doc_id, i,
           |    ord(substr(text, CAST(i + 1 AS INT), 1)) % 16 AS n
           |  FROM (SELECT doc_id, text, unnest(range(m)) AS i FROM a)),
           |dec(doc_id, i, pred, sidx) AS (
           |  SELECT doc_id, CAST(-1 AS BIGINT), 0, 0 FROM a
           |  UNION ALL
           |  SELECT d.doc_id, d.i + 1,
           |    GREATEST(-32768, LEAST(32767,
           |      d.pred + CASE WHEN nb.n & 8 = 8 THEN -1 ELSE 1 END *
           |        ((s.step >> 3)
           |         + CASE WHEN nb.n & 4 = 4 THEN s.step ELSE 0 END
           |         + CASE WHEN nb.n & 2 = 2 THEN s.step >> 1 ELSE 0 END
           |         + CASE WHEN nb.n & 1 = 1 THEN s.step >> 2 ELSE 0 END))),
           |    GREATEST(0, LEAST(88, d.sidx + it.delta))
           |  FROM dec d
           |  JOIN nib nb ON nb.doc_id = d.doc_id AND nb.i = d.i + 1
           |  JOIN steps s ON s.sidx = d.sidx
           |  JOIN itab it ON it.nv = nb.n)
           |SELECT doc_id, CAST(COUNT(*) AS INT) AS n,
           |  CAST(SUM(pred) AS BIGINT) AS sum_k,
           |  CAST(SUM(pred * pred) AS BIGINT) AS sum_k2,
           |  CAST(SUM(pred * (i + 1)) AS BIGINT) AS sum_ki
           |FROM dec GROUP BY doc_id""".stripMargin
      }),

    // Media-corpus curation composed end-to-end (the t19 pattern for
    // media): REAL PNG codec → native dHash → signature near-dup
    // dedup → per-SOURCE frequency cap, one operator call
    // (Curate.curateMediaSignatures). Dedup runs FIRST — a mass-
    // duplicated asset must not burn its source's budget on copies —
    // then cap 1 per source bites the survivor set. The oracle
    // composes the two proven chains: t73's brute-force hamming
    // closure, then the t58 salted-bucket cap window over the
    // survivors' sources.
    QueryDef(
      "t83_media_curation",
      (s, dir) => {
        import s.implicits._
        import graft.multimodal.{Multimodal => mm}
        val d = spread(s, docs(s, dir))
        val media = d.select(col("doc_id")).as[Long]
          .mapPartitions { it =>
            it.map { id =>
              val fam = id / 3
              val mem = id % 3
              val gray = Array.tabulate(72) { j =>
                if (j == 71) ((fam * 37 + 71 * 71 + mem * 97) % 251).toInt
                else ((fam * 37 + j.toLong * j) % 251).toInt
              }
              mm.MediaRecord(id, "image", "image/png", 9, 8, 0L,
                mm.grayPng(gray, 9, 8))
            }
          }
        val sigs = mm.decodeImageGray(media).toDF()
          .withColumn("dhash", graft.functions.ImageOps.dHash("gray"))
          .select(col("media_id").as("doc_id"), col("dhash"))
        graft.operators.Curate.curateMediaSignatures(sigs, "doc_id",
          "dhash", d.select(col("doc_id"), col("source")), "source",
          cap = 1)
          .select(col("doc_id"), col("source"))
      },
      Some {
        val g = "CASE WHEN j = 71 THEN (fam * 37 + 5041 + mem * 97) % 251 " +
          "ELSE (fam * 37 + j * j) % 251 END"
        val bucket = DuckSql.hexToLong(
          "md5('graft-cap|' || CAST(doc_id AS VARCHAR))", 8)
        s"""WITH d AS (SELECT doc_id, source, doc_id // 3 AS fam,
           |    doc_id % 3 AS mem FROM documents),
           |pix AS (SELECT doc_id, j, $g AS gv
           |  FROM d, (SELECT unnest(range(72)) AS j)),
           |bits AS (SELECT p1.doc_id, t.i,
           |    CASE WHEN p2.gv > p1.gv THEN 1 ELSE 0 END AS b
           |  FROM (SELECT unnest(range(64)) AS i) t
           |  JOIN pix p1 ON p1.j = (t.i // 8) * 9 + (t.i % 8)
           |  JOIN pix p2 ON p2.doc_id = p1.doc_id
           |    AND p2.j = (t.i // 8) * 9 + (t.i % 8) + 1),
           |ham AS (SELECT x.doc_id AS hi_id, y.doc_id AS lo_id,
           |    SUM(CASE WHEN x.b <> y.b THEN 1 ELSE 0 END) AS h
           |  FROM bits x JOIN bits y ON x.i = y.i
           |    AND x.doc_id > y.doc_id
           |  GROUP BY 1, 2),
           |removed AS (SELECT DISTINCT hi_id FROM ham WHERE h <= 3),
           |surv AS (SELECT doc_id, source FROM d
           |  WHERE doc_id NOT IN (SELECT hi_id FROM removed)),
           |ranked AS (SELECT doc_id, source, row_number() OVER (
           |    PARTITION BY source
           |    ORDER BY $bucket % 1000000, doc_id) AS rn
           |  FROM surv)
           |SELECT doc_id, source FROM ranked WHERE rn <= 1"""
          .stripMargin
      }),

    // WebDataset-style tar sharding under the oracle: every doc
    // becomes two archive entries (<id>.txt payload + <id>.json
    // metadata), shards assign by the salted-bucket arithmetic, and
    // the operator reports (shard, n_entries, n_bytes) FROM THE BYTES
    // IT WROTE. The oracle rederives the exact ustar layout — 512
    // header + ceil(size/512) data blocks per entry + 1024 end
    // padding — from the same text/json lengths, so hash-equality
    // pins both the shard assignment and the on-disk byte format an
    // external training loader will stream (TarShardsSpec proves GNU
    // tar itself extracts the files byte-for-byte).
    QueryDef(
      "t84_webdataset_shards",
      (s, dir) => {
        val base = gatePath(dir, "tar")
        val fsPath = new org.apache.hadoop.fs.Path(base)
        fsPath.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(fsPath, true) // deterministic rebuild per run
        val sel = spread(s, docs(s, dir))
          .filter(octet_length(col("text")) === length(col("text")))
        val entries = sel.select(col("doc_id"), explode(array(
            struct(format_string("%08d.txt", col("doc_id")).as("name"),
              col("text").cast("binary").as("data")),
            struct(format_string("%08d.json", col("doc_id")).as("name"),
              concat(lit("{\"id\":"), col("doc_id"), lit(",\"lang\":\""),
                col("lang"), lit("\"}")).cast("binary").as("data"))))
            .as("e"))
          .select(col("doc_id"), col("e.name").as("name"),
            col("e.data").as("data"))
        graft.operators.TarShards.write(entries, "doc_id", base,
          nShards = 4)
          .select(col("shard"), col("n_entries"), col("n_bytes"))
      },
      Some {
        val bucket = DuckSql.hexToLong(
          "md5('graft-shard|' || CAST(doc_id AS VARCHAR))", 8)
        s"""WITH a AS (
           |  SELECT doc_id, text, lang,
           |    CAST(($bucket % 1000000) % 4 AS INT) AS shard
           |  FROM documents
           |  WHERE octet_length(encode(text)) = length(text)),
           |e AS (SELECT shard,
           |    512 + ((length(text) + 511) // 512) * 512 AS txt_b,
           |    512 + ((length('{"id":' || CAST(doc_id AS VARCHAR)
           |      || ',"lang":"' || lang || '"}') + 511) // 512) * 512
           |      AS json_b
           |  FROM a)
           |SELECT shard, CAST(2 * COUNT(*) AS BIGINT) AS n_entries,
           |  CAST(SUM(txt_b + json_b) + 1024 AS BIGINT) AS n_bytes
           |FROM e GROUP BY shard""".stripMargin
      }),

    // Tar-shard ROUND TRIP under the oracle (t84's reader half): the
    // shards written by the t84 construction read back through the
    // distributed ustar walker (checksums verified per entry), and
    // the output is each document's recovered CONTENT — md5 of the
    // .txt payload and of the .json metadata — which DuckDB rederives
    // from the raw text. Hash-equality proves the loader side of the
    // WebDataset contract: what a training worker streams out of the
    // archive is byte-for-byte what went in.
    QueryDef(
      "t85_tar_roundtrip",
      (s, dir) => {
        val base = gatePath(dir, "tar_rt")
        val fsPath = new org.apache.hadoop.fs.Path(base)
        fsPath.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(fsPath, true) // deterministic rebuild per run
        val sel = spread(s, docs(s, dir))
          .filter(octet_length(col("text")) === length(col("text")))
        val entries = sel.select(col("doc_id"), explode(array(
            struct(format_string("%08d.txt", col("doc_id")).as("name"),
              col("text").cast("binary").as("data")),
            struct(format_string("%08d.json", col("doc_id")).as("name"),
              concat(lit("{\"id\":"), col("doc_id"), lit(",\"lang\":\""),
                col("lang"), lit("\"}")).cast("binary").as("data"))))
            .as("e"))
          .select(col("doc_id"), col("e.name").as("name"),
            col("e.data").as("data"))
        graft.operators.TarShards.write(entries, "doc_id", base,
          nShards = 4)
        val back = graft.operators.TarShards.read(s, base)
          // %08d pads but never truncates — parse up to the extension
          // so 9+-digit ids (ScaleUp's replica ranges) stay distinct
          .withColumn("doc_id",
            substring_index(col("name"), ".", 1).cast("long"))
          .withColumn("h", md5(col("data")))
        back.filter(col("name").endsWith(".txt"))
          .select(col("doc_id"), col("h").as("txt_md5"))
          .join(back.filter(col("name").endsWith(".json"))
            .select(col("doc_id"), col("h").as("json_md5")), Seq("doc_id"))
      },
      Some {
        """SELECT doc_id, md5(text) AS txt_md5,
          |  md5('{"id":' || CAST(doc_id AS VARCHAR)
          |    || ',"lang":"' || lang || '"}') AS json_md5
          |FROM documents
          |WHERE octet_length(encode(text)) = length(text)"""
          .stripMargin
      }),

    // THIRD compressed-audio codec, and the first with a genuinely
    // entropy-coded bitstream (t74's G.711 is a table lookup, t82's
    // ADPCM a fixed-step recursion): docs become FLAC streams —
    // sample i = ord(char_i)·419 − 26000 — written by Flac.encode
    // (fixed predictors with per-block order selection + Rice
    // parameter search) and decoded by the REAL Flac.decode, which
    // verifies header CRC-8, frame CRC-16, and the STREAMINFO MD5 of
    // the decoded stream en route. FLAC is LOSSLESS, so the decoded
    // samples ARE the construction arithmetic (exact k/32768 binary
    // fractions) and the same windowed RMS/ZCR as t64/t74/t82 pins
    // the whole encode→container→decode chain cross-engine.
    QueryDef(
      "t86_flac_audio",
      (s, dir) => {
        import s.implicits._
        import graft.multimodal.{Flac, Multimodal => mm}
        val media = spread(s, docs(s, dir))
          .filter(octet_length(col("text")) === length(col("text")) &&
            length(col("text")) >= 8 && col("doc_id") % 3 === 2)
          .select(col("doc_id"), col("text")).as[(Long, String)]
          .mapPartitions { it =>
            it.map { case (id, text) =>
              val bytes = text.getBytes("US-ASCII")
              // blockSize 32 makes every doc multi-frame: frame
              // numbers, sync scan, and per-frame CRCs all exercised
              val samples = Array.tabulate(bytes.length)(i =>
                ((bytes(i) & 0xff) * 419 - 26000).toShort)
              mm.MediaRecord(id, "audio", "audio/flac", 0, 0,
                bytes.length * 1000L / 8000L,
                Flac.encode(samples, 8000, blockSize = 32))
            }
          }
        mm.decodeAudioSamples(media).toDF()
          .select(col("media_id").as("doc_id"),
            explode(graft.functions.AudioOps.windowFeatures("samples", 4))
              .as("f"))
          .select(col("doc_id"), col("f.window").as("window"),
            col("f.n").as("n"), col("f.rms").as("rms"),
            col("f.zcr").as("zcr"))
      },
      Some {
        s"""WITH a AS (
           |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
           |  FROM documents
           |  WHERE octet_length(encode(text)) = length(text)
           |    AND length(text) >= 8 AND doc_id % 3 = 2),
           |sm AS (SELECT doc_id, n, unnest(range(n)) AS i, text FROM a),
           |k AS (SELECT doc_id, i,
           |    CAST(ord(substr(text, CAST(i + 1 AS INT), 1)) * 419
           |      - 26000 AS BIGINT) AS kv,
           |    CAST(i * 4 // n AS INT) AS w
           |  FROM sm),
           |p AS (SELECT doc_id, w, kv,
           |    lag(kv) OVER (PARTITION BY doc_id ORDER BY i) AS pk,
           |    lag(w) OVER (PARTITION BY doc_id ORDER BY i) AS pw
           |  FROM k),
           |agg AS (SELECT doc_id, w, COUNT(*) AS n_w,
           |    CAST(SUM(kv * kv) AS BIGINT) AS k2,
           |    CAST(COALESCE(SUM(CASE WHEN pw = w AND pk * kv < 0
           |      THEN 1 ELSE 0 END), 0) AS INT) AS zcr
           |  FROM p GROUP BY doc_id, w)
           |SELECT doc_id, w AS window, CAST(n_w AS INT) AS n,
           |  sqrt(CAST(k2 AS DOUBLE) / 1073741824.0 / CAST(n_w AS DOUBLE))
           |    AS rms,
           |  zcr
           |FROM agg""".stripMargin
      }),

    // Table-format OPTIMIZE under the oracle: orders lands in the
    // commit log as 8 files, optimize bin-packs and Z-ORDERS on
    // (o_custkey, o_totalprice), and the output is every row read
    // back from the REWRITTEN snapshot plus its z value computed by
    // the same public zValue expression the rewrite sorted on.
    // Hash-equality vs DuckDB proves (a) the rewrite is content-
    // preserving — every orders row survives the round trip through
    // write→optimize→read — and (b) the Morton arithmetic (equi-width
    // scaling, clamp, bit interleave) is exactly the declared public
    // formula, IEEE division included. Layout claims (file-count
    // collapse, per-file span boxes) are measured in OptimizeSpec —
    // they depend on parquet encoding sizes, which no data-only
    // oracle can rederive.
    QueryDef(
      "t87_optimize_zorder",
      (s, dir) => {
        import graft.operators.{CommitLogTableFormat => clf}
        val base = gatePath(dir, "optimize")
        val fsPath = new org.apache.hadoop.fs.Path(base)
        fsPath.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(fsPath, true) // deterministic rebuild per run
        val orders = Tables(s, dir, "orders")
        clf.fullRefresh(s, orders.repartition(8), base)
        clf.optimize(s, base, targetFileBytes = Long.MaxValue,
          zorderBy = Seq("o_custkey", "o_totalprice"))
        val back = clf.read(s, base).get
        val b = back.agg(
          min(col("o_custkey").cast("double")),
          max(col("o_custkey").cast("double")),
          min(col("o_totalprice").cast("double")),
          max(col("o_totalprice").cast("double"))).head()
        back.select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"),
          clf.zValue(Seq(col("o_custkey"), col("o_totalprice")),
            Seq(b.getDouble(0), b.getDouble(2)),
            Seq(b.getDouble(1), b.getDouble(3))).as("z"))
      },
      Some {
        val terms = (0 until 16).flatMap(i => Seq(
          s"(((ba >> $i) & 1) << ${2 * i + 1})",
          s"(((bb >> $i) & 1) << ${2 * i})")).mkString(" + ")
        s"""WITH b AS (
           |  SELECT MIN(CAST(o_custkey AS DOUBLE)) AS mn1,
           |    MAX(CAST(o_custkey AS DOUBLE)) AS mx1,
           |    MIN(CAST(o_totalprice AS DOUBLE)) AS mn2,
           |    MAX(CAST(o_totalprice AS DOUBLE)) AS mx2
           |  FROM orders),
           |s AS (SELECT o.o_orderkey, o.o_custkey, o.o_totalprice,
           |  LEAST(65535, GREATEST(0, CAST(floor(
           |    (CAST(o.o_custkey AS DOUBLE) - b.mn1) * 65535.0
           |      / (b.mx1 - b.mn1)) AS BIGINT))) AS ba,
           |  LEAST(65535, GREATEST(0, CAST(floor(
           |    (CAST(o.o_totalprice AS DOUBLE) - b.mn2) * 65535.0
           |      / (b.mx2 - b.mn2)) AS BIGINT))) AS bb
           |  FROM orders o, b)
           |SELECT o_orderkey, o_custkey, o_totalprice,
           |  CAST($terms AS BIGINT) AS z
           |FROM s""".stripMargin
      }),

    // Count-Min frequency sketch under the oracle: 4 salted md5 hash
    // rows × 512 buckets over lineitem part keys (~2000 distinct at
    // sf0.01, so collisions are REAL and the min-over-rows estimate
    // does actual work), probed for the %50 candidate keys. The whole
    // sketch is deterministic integer arithmetic on the shared md5
    // idiom, so DuckDB rebuilds the identical cell matrix and replays
    // every estimate — hash-equality pins the sketch construction AND
    // the upper-bound estimator. The accuracy contract (never under,
    // ε=e/w envelope, cell-sum mergeability) is SketchesSpec's job.
    QueryDef(
      "t88_countmin_freq",
      (s, dir) => {
        import graft.operators.Sketches
        val li = Tables(s, dir, "lineitem")
        val sketch = Sketches.countMin(spread(s, li), "l_partkey",
          depth = 4, width = 512)
        val keys = li.filter(col("l_partkey") % 50 === 0)
          .select("l_partkey").distinct()
        Sketches.countMinEstimate(sketch, keys, "l_partkey",
          depth = 4, width = 512)
          .select(col("l_partkey"), col("est"))
      },
      Some {
        def h(keyExpr: String) = DuckSql.hexToLong(
          s"md5('cm' || CAST(j AS VARCHAR) || '|' || " +
            s"CAST($keyExpr AS VARCHAR))", 8)
        s"""WITH ks AS (SELECT DISTINCT l_partkey FROM lineitem
           |  WHERE l_partkey % 50 = 0),
           |js AS (SELECT unnest(range(4)) AS j),
           |cm AS (SELECT j, ${h("l_partkey")} % 512 AS bucket,
           |    COUNT(*) AS cnt
           |  FROM lineitem, js GROUP BY 1, 2),
           |pr AS (SELECT ks.l_partkey, j,
           |    ${h("ks.l_partkey")} % 512 AS bucket
           |  FROM ks, js)
           |SELECT pr.l_partkey, MIN(COALESCE(cm.cnt, 0)) AS est
           |FROM pr LEFT JOIN cm ON cm.j = pr.j AND cm.bucket = pr.bucket
           |GROUP BY 1""".stripMargin
      }),

    // PARAGRAPH-level corpus dedup (the Dolma/FineWeb recipe, between
    // document dedup t01 and token-span removal t53): docs reshape
    // into 3-token paragraphs joined by newlines — short units over
    // the small vocab make cross-document collisions REAL at sf0.01 —
    // then every paragraph appearing in >1 distinct documents is
    // dropped from all of them and the survivors rebuild in order.
    // DuckDB replays the same split arithmetic, the distinct-doc
    // count, and the ordered reassembly, so hash-equality pins the
    // whole drop-and-rebuild including empty-document edge cases.
    QueryDef(
      "t89_paragraph_dedup",
      (s, dir) => {
        val tk = split(col("text"), " ")
        val nP = ceil(size(tk) / lit(3.0)).cast("int")
        val paraDocs = spread(s, docs(s, dir))
          .select(col("doc_id"),
            array_join(transform(sequence(lit(0), nP - 1),
              i => array_join(slice(tk, i * 3 + 1, lit(3)), " ")), "\n")
              .as("ptext"))
        graft.operators.Dedup
          .dedupParagraphs(paraDocs, "doc_id", "ptext", "\n",
            maxDocFreq = 1)
          .select(col("doc_id"), col("cleaned"), col("n_removed"))
      },
      Some {
        s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk
           |  FROM documents),
           |np AS (SELECT doc_id, tk,
           |    CAST(ceil(len(tk) / 3.0) AS BIGINT) AS n FROM toks),
           |paras AS (SELECT doc_id, CAST(i AS BIGINT) AS pid,
           |    array_to_string(tk[CAST(i * 3 + 1 AS INT)
           |      : CAST(i * 3 + 3 AS INT)], ' ') AS p
           |  FROM (SELECT doc_id, tk, unnest(range(n)) AS i FROM np)),
           |dc AS (SELECT p, COUNT(DISTINCT doc_id) AS c
           |  FROM paras GROUP BY p),
           |keep AS (SELECT paras.doc_id, paras.pid, paras.p
           |  FROM paras JOIN dc USING (p) WHERE dc.c <= 1),
           |tot AS (SELECT doc_id, COUNT(*) AS np FROM paras
           |  GROUP BY doc_id),
           |reb AS (SELECT doc_id,
           |    string_agg(p, chr(10) ORDER BY pid) AS cleaned,
           |    COUNT(*) AS nk
           |  FROM keep GROUP BY doc_id)
           |SELECT t.doc_id, COALESCE(r.cleaned, '') AS cleaned,
           |  CAST(t.np - COALESCE(r.nk, 0) AS BIGINT) AS n_removed
           |FROM tot t LEFT JOIN reb r USING (doc_id)""".stripMargin
      }),

    // Snapshot DIFF under the oracle (the audit face of time travel):
    // customer commits as v1, a deterministic mutation — drop the %7
    // keys, bump acctbal by 100.0 on the %5 keys — commits as v2, and
    // diffSnapshots(1, 2) emits the added/removed rows with MULTISET
    // semantics. DuckDB rederives both versions from the raw table
    // and replays EXCEPT ALL both ways: hash-equality proves the
    // commit-log round trip preserves every column bit-for-bit AND
    // the diff is exactly the multiset delta.
    QueryDef(
      "t90_snapshot_diff",
      (s, dir) => {
        import graft.operators.{CommitLogTableFormat => clf}
        val base = gatePath(dir, "diff")
        val fsPath = new org.apache.hadoop.fs.Path(base)
        fsPath.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(fsPath, true) // deterministic rebuild per run
        val cust = Tables(s, dir, "customer")
        clf.fullRefresh(s, cust, base) // v1
        clf.fullRefresh(s, cust.filter(col("c_custkey") % 7 =!= 0)
          .withColumn("c_acctbal",
            when(col("c_custkey") % 5 === 0, col("c_acctbal") + 100.0)
              .otherwise(col("c_acctbal"))), base) // v2
        clf.diffSnapshots(s, base, 1L, 2L)
      },
      Some {
        s"""WITH v1 AS (SELECT c_custkey, c_name, c_nationkey, c_acctbal,
           |    c_mktsegment FROM customer),
           |v2 AS (SELECT c_custkey, c_name, c_nationkey,
           |    CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 100.0
           |      ELSE c_acctbal END AS c_acctbal,
           |    c_mktsegment FROM customer WHERE c_custkey % 7 <> 0)
           |SELECT *, 'added' AS change
           |FROM (SELECT * FROM v2 EXCEPT ALL SELECT * FROM v1)
           |UNION ALL
           |SELECT *, 'removed' AS change
           |FROM (SELECT * FROM v1 EXCEPT ALL SELECT * FROM v2)"""
          .stripMargin
      }),

    // Manifest-stats data skipping under the oracle (t87's read-side
    // payoff): orders commits, optimize Z-orders on (o_custkey,
    // o_totalprice) AND records per-file min/max for both in the
    // manifest, and scanPruned answers a custkey range by opening
    // only the files whose recorded range intersects — the residual
    // filter still applies, so pruning is a plan optimization with
    // oracle-checkable semantics: exactly the rows of a plain
    // BETWEEN. Sized to bite: 8 z-ordered files at sf0.01, a range
    // covering ~1/7 of the key space. The files-actually-skipped
    // measurement is OptimizeSpec's (file counts are encoding-
    // dependent, not data-derivable).
    QueryDef(
      "t91_stats_pruned_scan",
      (s, dir) => {
        import graft.operators.{CommitLogTableFormat => clf}
        val base = gatePath(dir, "prune")
        val fsPath = new org.apache.hadoop.fs.Path(base)
        fsPath.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(fsPath, true) // deterministic rebuild per run
        clf.fullRefresh(s, Tables(s, dir, "orders").repartition(8), base)
        val probe = clf.optimize(s, base,
          targetFileBytes = Long.MaxValue,
          zorderBy = Seq("o_custkey", "o_totalprice"))
        clf.optimize(s, base,
          targetFileBytes = math.max(1L, probe.bytesBefore / 8),
          zorderBy = Seq("o_custkey", "o_totalprice"))
        clf.scanPruned(s, base, "o_custkey", 100d, 300d)
      },
      Some {
        """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
          |  o_orderdate, o_orderpriority
          |FROM orders
          |WHERE o_custkey >= 100 AND o_custkey <= 300""".stripMargin
      }),

    // CDC apply under the oracle — the MERGE-with-DELETE the upsert
    // family cannot express: customer commits at version 1, then one
    // changeset carries deletes (%3=0 keys), updates (%3=1, acctbal
    // +50.0), brand-new inserts (%10=4 keys reborn at key+100000),
    // and STALE deletes (ver 0) for every surviving key — which must
    // all lose, to the in-changeset newer op or to the target's
    // version. Output is the final table; DuckDB derives the same
    // end-state declaratively. Pins insert/update/delete/stale-op
    // resolution AND the changeset-internal latest-wins in one hash.
    QueryDef(
      "t92_cdc_apply",
      (s, dir) => {
        import graft.operators.{CommitLogTableFormat => clf}
        val base = gatePath(dir, "cdc")
        val fsPath = new org.apache.hadoop.fs.Path(base)
        fsPath.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(fsPath, true) // deterministic rebuild per run
        val cust = Tables(s, dir, "customer")
        clf.fullRefresh(s, cust.withColumn("cdc_ver", lit(1L)), base)
        val dels = cust.filter(col("c_custkey") % 3 === 0)
          .withColumn("op", lit("D")).withColumn("cdc_ver", lit(2L))
        val ups = cust.filter(col("c_custkey") % 3 === 1)
          .withColumn("c_acctbal", col("c_acctbal") + 50.0)
          .withColumn("op", lit("U")).withColumn("cdc_ver", lit(2L))
        val ins = cust.filter(col("c_custkey") % 10 === 4)
          .select((col("c_custkey") + 100000).as("c_custkey"),
            concat(lit("new_"), col("c_custkey").cast("string"))
              .as("c_name"),
            lit(0).cast("int").as("c_nationkey"),
            lit(0.0).as("c_acctbal"), lit("NEW").as("c_mktsegment"))
          .withColumn("op", lit("I")).withColumn("cdc_ver", lit(2L))
        val stale = cust.filter(col("c_custkey") % 3 =!= 0)
          .withColumn("op", lit("D")).withColumn("cdc_ver", lit(0L))
        clf.applyCdc(s,
          dels.unionByName(ups).unionByName(ins).unionByName(stale),
          base, Seq("c_custkey"), "op", "cdc_ver")
        clf.read(s, base).get
      },
      Some {
        """SELECT c_custkey, c_name, c_nationkey,
          |  CASE WHEN c_custkey % 3 = 1 THEN c_acctbal + 50.0
          |    ELSE c_acctbal END AS c_acctbal,
          |  c_mktsegment,
          |  CAST(CASE WHEN c_custkey % 3 = 1 THEN 2 ELSE 1 END
          |    AS BIGINT) AS cdc_ver
          |FROM customer WHERE c_custkey % 3 <> 0
          |UNION ALL
          |SELECT c_custkey + 100000, 'new_' || CAST(c_custkey AS VARCHAR),
          |  CAST(0 AS INT), 0.0, 'NEW', CAST(2 AS BIGINT)
          |FROM customer WHERE c_custkey % 10 = 4""".stripMargin
      }),

    // INCREMENTAL paragraph dedup under the oracle (t89's
    // daily-append sibling, the t26/t78 id-parity contract at
    // paragraph granularity): even docs are the already-ingested
    // corpus, materialized ONLY as their (hash, n_docs) paragraph
    // index — their text is never re-read; odd docs dedup against
    // that index plus themselves (drop when historical + incoming
    // distinct-doc counts exceed 1). DuckDB replays the combined
    // counting and the ordered rebuild over the raw text, pinning
    // the amortized production shape against the declarative batch
    // definition.
    QueryDef(
      "t93_paragraph_dedup_incremental",
      (s, dir) => {
        val tk = split(col("text"), " ")
        val nP = ceil(size(tk) / lit(3.0)).cast("int")
        val paraDocs = spread(s, docs(s, dir))
          .select(col("doc_id"),
            array_join(transform(sequence(lit(0), nP - 1),
              i => array_join(slice(tk, i * 3 + 1, lit(3)), " ")), "\n")
              .as("ptext"))
        val existing = graft.operators.Dedup.paragraphIndex(
          paraDocs.filter(col("doc_id") % 2 === 0), "doc_id", "ptext")
        val (cleaned, _) = graft.operators.Dedup
          .dedupParagraphsIncremental(
            paraDocs.filter(col("doc_id") % 2 === 1), "doc_id", "ptext",
            existing)
        cleaned.select(col("doc_id"), col("cleaned"), col("n_removed"))
      },
      Some {
        s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk
           |  FROM documents),
           |np AS (SELECT doc_id, tk,
           |    CAST(ceil(len(tk) / 3.0) AS BIGINT) AS n FROM toks),
           |paras AS (SELECT doc_id, CAST(i AS BIGINT) AS pid,
           |    array_to_string(tk[CAST(i * 3 + 1 AS INT)
           |      : CAST(i * 3 + 3 AS INT)], ' ') AS p
           |  FROM (SELECT doc_id, tk, unnest(range(n)) AS i FROM np)),
           |ev AS (SELECT p, COUNT(DISTINCT doc_id) AS n_ex
           |  FROM paras WHERE doc_id % 2 = 0 GROUP BY p),
           |odp AS (SELECT doc_id, pid, p FROM paras WHERE doc_id % 2 = 1),
           |oin AS (SELECT p, COUNT(DISTINCT doc_id) AS n_inc
           |  FROM odp GROUP BY p),
           |dropp AS (SELECT oin.p FROM oin LEFT JOIN ev USING (p)
           |  WHERE oin.n_inc + COALESCE(ev.n_ex, 0) > 1),
           |keep AS (SELECT odp.doc_id, odp.pid, odp.p FROM odp
           |  WHERE odp.p NOT IN (SELECT p FROM dropp)),
           |tot AS (SELECT doc_id, COUNT(*) AS np FROM odp
           |  GROUP BY doc_id),
           |reb AS (SELECT doc_id,
           |    string_agg(p, chr(10) ORDER BY pid) AS cleaned,
           |    COUNT(*) AS nk
           |  FROM keep GROUP BY doc_id)
           |SELECT t.doc_id, COALESCE(r.cleaned, '') AS cleaned,
           |  CAST(t.np - COALESCE(r.nk, 0) AS BIGINT) AS n_removed
           |FROM tot t LEFT JOIN reb r USING (doc_id)""".stripMargin
      }),

    // WEIGHTED sampling without replacement under the oracle
    // (Efraimidis–Spirakis A-ES — quality/length-weighted corpus
    // selection, the non-uniform sibling of t30): docs compete with
    // key ln(u)/w where u is a 52-bit salted md5 fraction and w =
    // length(text); top-100 win. DuckDB replays the identical
    // competition. The float columns stay OUT of the output (ids +
    // integer weights only) so cross-libm ln() ulp differences could
    // only matter if two keys collided within ~1e-16 relative — md5
    // makes the u values distinct, and the observed key gaps are
    // ~1e-4. Distributional properties (10x weights dominate, equal
    // weights reduce to uniform) are SampleSpec's job.
    QueryDef(
      "t94_weighted_sample",
      (s, dir) => {
        import graft.operators.Sample
        Sample.weightedSample(
          spread(s, docs(s, dir))
            .select(col("doc_id"),
              length(col("text")).cast("double").as("w")),
          "doc_id", col("w"), k = 100)
          .select(col("doc_id"), col("w").cast("long").as("w"))
      },
      Some {
        val u = DuckSql.hexToLong(
          "md5('graft-es|' || CAST(doc_id AS VARCHAR))", 13)
        s"""WITH c AS (SELECT doc_id,
           |    CAST(length(text) AS DOUBLE) AS w FROM documents
           |  WHERE length(text) > 0),
           |u AS (SELECT doc_id, w,
           |    CAST($u AS DOUBLE) / 4503599627370496.0 AS uu
           |  FROM c)
           |SELECT doc_id, CAST(w AS BIGINT) AS w FROM u
           |ORDER BY ln(uu) / w DESC, doc_id ASC
           |LIMIT 100""".stripMargin
      }),

    // EDIT-DISTANCE similarity join (PassJoin pigeonhole banding →
    // levenshtein verify) — the record-linkage dedup class hash
    // signatures can't express. Linkage key = 24-char doc prefix,
    // with every 3rd doc perturbed by one deterministic substitution
    // at position doc_id%24+1, so the corpus carries genuine pairs at
    // distances 0 (neither twin mutated), 1 (one mutated), and 2
    // (both, different positions — every band must fire). The oracle
    // is BRUTE-FORCE all-pairs
    // levenshtein — hash equality proves the banding generates a
    // complete candidate set, not just a plausible one.
    QueryDef(
      "t95_edit_distance_pairs",
      (s, dir) => {
        import graft.operators.EditDistance
        val p = (col("doc_id") % 24 + 1).cast("int")
        val keyed = spread(s, docs(s, dir)).select(col("doc_id"),
          when(col("doc_id") % 3 === 0,
            overlay(substring(col("text"), 1, 24), lit("#"), p))
            .otherwise(substring(col("text"), 1, 24)).as("k"))
        EditDistance.editDistancePairs(keyed, "doc_id", "k", maxDist = 2)
      },
      Some(
        """WITH k AS (SELECT doc_id,
          |    CASE WHEN doc_id % 3 = 0 THEN
          |      substr(substr(text,1,24), 1, CAST(doc_id % 24 AS INT))
          |        || '#' ||
          |      substr(substr(text,1,24), CAST(doc_id % 24 AS INT) + 2)
          |    ELSE substr(text,1,24) END AS k FROM documents)
          |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |  CAST(levenshtein(a.k, b.k) AS BIGINT) AS dist
          |FROM k a JOIN k b ON a.doc_id < b.doc_id
          |WHERE levenshtein(a.k, b.k) <= 2""".stripMargin)),

    // SCHEMA EVOLUTION through the commit-log table (the ALTER TABLE
    // ADD COLUMN a long-lived 100 TB table needs without rewriting
    // history's readers): v1 commits customers WITHOUT c_acctbal; the
    // v2 upsert batch carries it as a NEW column (plus updated names
    // for its keys) and OMITS c_mktsegment entirely. The merge must
    // widen (old rows read NULL acctbal), auto-preserve the
    // target-only column (the narrow batch can't null out history),
    // and keep non-updated rows bit-identical — all derived
    // declaratively by the oracle from the same base table.
    QueryDef(
      "t96_schema_evolution",
      (s, dir) => {
        import graft.operators.{CommitLogTableFormat => clf}
        val base = gatePath(dir, "evolve")
        val fsPath = new org.apache.hadoop.fs.Path(base)
        fsPath.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(fsPath, true) // deterministic rebuild per run
        val cust = Tables(s, dir, "customer")
        clf.fullRefresh(s, cust
          .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
            col("c_mktsegment"), lit(1L).as("ver")), base) // v1: no acctbal
        clf.upsert(s, cust.filter(col("c_custkey") % 3 === 0)
          .select(col("c_custkey"),
            concat(lit("upd:"), col("c_name")).as("c_name"),
            col("c_nationkey"), lit(2L).as("ver"),
            col("c_acctbal")), // NEW column; c_mktsegment omitted
          base, keys = Seq("c_custkey"), versionCol = "ver",
          preserveOnUpdate = Nil, partitionCols = Nil)
        clf.read(s, base).get
      },
      Some(
        """SELECT c_custkey,
          |  CASE WHEN c_custkey % 3 = 0 THEN 'upd:' || c_name
          |    ELSE c_name END AS c_name,
          |  c_nationkey, c_mktsegment,
          |  CASE WHEN c_custkey % 3 = 0 THEN 2 ELSE 1 END AS ver,
          |  CASE WHEN c_custkey % 3 = 0 THEN c_acctbal
          |    ELSE NULL END AS c_acctbal
          |FROM customer""".stripMargin)),

    // SCALAR (int8) embedding quantization + quantized top-k — the
    // STORAGE face of ANN at 100 TB (float32→8-bit = 4× off the
    // corpus' widest column). Exact-arithmetic replayable end to end:
    // bounds are per-dim min/max (comparisons, no accumulation),
    // codes are floor(scaled + ½) clamped — floor, not round(), whose
    // half-up/half-even split differs across engines — and scores
    // are INTEGER dot products of codes, so DuckDB rebuilds the
    // whole pipeline (bounds → codes → competition) with no ulp
    // argument anywhere.
    QueryDef(
      "t97_quantized_topk",
      (s, dir) => {
        import graft.operators.Quantize
        val e = spread(s, Tables(s, dir, "embeddings"))
        val (mn, mx) = Quantize.dimBounds(e, "embedding", Dims)
        val coded = e.select(col("vec_id"),
          Quantize.encode(col("embedding"), mn, mx).as("code"))
        val p = coded.filter(col("vec_id") < 20)
          .select(col("vec_id").as("p_id"), col("code").as("pc"))
        val c = coded.select(col("vec_id").as("c_id"), col("code").as("cc"))
        val pairs = c.crossJoin(broadcast(p))
          .filter(col("p_id") =!= col("c_id"))
          .select(col("p_id"), col("c_id"),
            Quantize.quantizedDot(col("pc"), col("cc")).as("dot"))
        val w = Window.partitionBy("p_id")
          .orderBy(col("dot").desc, col("c_id").asc)
        pairs.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select("p_id", "rn", "c_id", "dot")
      },
      Some {
        val bounds = (1 to Dims).map(i =>
          s"min(CAST(embedding[$i] AS DOUBLE)) AS mn$i, " +
            s"max(CAST(embedding[$i] AS DOUBLE)) AS mx$i").mkString(", ")
        val codes = (1 to Dims).map(i =>
          s"CASE WHEN b.mx$i > b.mn$i THEN CAST(LEAST(GREATEST(" +
            s"floor((CAST(embedding[$i] AS DOUBLE) - b.mn$i) * 255.0" +
            s" / (b.mx$i - b.mn$i) + 0.5), 0), 255) AS BIGINT) " +
            s"ELSE 0 END").mkString(", ")
        val intDot = (1 to Dims).map(i => s"p.pc[$i] * q.code[$i]")
          .mkString("(", " + ", ")")
        s"""WITH b AS (SELECT $bounds FROM embeddings),
           |q AS (SELECT vec_id, [$codes] AS code FROM embeddings, b),
           |p AS (SELECT vec_id AS p_id, code AS pc FROM q
           |  WHERE vec_id < 20),
           |pairs AS (SELECT p.p_id, q.vec_id AS c_id,
           |    $intDot AS dot
           |  FROM q, p WHERE q.vec_id <> p.p_id)
           |SELECT p_id, rn, c_id, dot FROM (
           |  SELECT *, row_number() OVER (
           |    PARTITION BY p_id ORDER BY dot DESC, c_id ASC) AS rn
           |  FROM pairs) WHERE rn <= 5""".stripMargin
      }),

    // BLOOM-PRUNED decontamination — t36's contract in the regime
    // where the benchmark gram set is too large to broadcast as data:
    // bench grams compress into a broadcastable Bloom filter, corpus
    // grams prune against it row-locally BEFORE any shuffle, and the
    // exact semi-join cleans up the false positives. Bloom filters
    // never drop a true match, so the output is bit-identical to the
    // unpruned operator — the oracle is the PLAIN exact-intersection
    // SQL (the t91 discipline: pruning is a plan optimization, never
    // a meaning change).
    QueryDef(
      "t98_contamination_bloom",
      (s, dir) => {
        val d = spread(s, docs(s, dir))
        graft.operators.SpanStats.contaminationBloomPruned(
          d.filter(col("doc_id") % 7 =!= 0), "doc_id", "text",
          d.filter(col("doc_id") % 7 === 0), "text", n = 5,
          expectedGrams = 20000L)
      },
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
              |bg AS (SELECT DISTINCT
              |    unnest(${DuckSql.ngramsRaw("toks", 5)}) AS gram
              |  FROM t WHERE doc_id % 7 = 0),
              |tot AS (SELECT doc_id,
              |    CAST(len(${DuckSql.ngramsRaw("toks", 5)}) AS BIGINT)
              |      AS n_spans
              |  FROM t WHERE doc_id % 7 <> 0),
              |g AS (SELECT doc_id,
              |    unnest(${DuckSql.ngramsRaw("toks", 5)}) AS gram
              |  FROM t WHERE doc_id % 7 <> 0),
              |hits AS (SELECT doc_id, COUNT(*) AS n_cont
              |  FROM g JOIN bg USING (gram) GROUP BY 1)
              |SELECT tot.doc_id, tot.n_spans,
              |  COALESCE(h.n_cont, 0) AS n_contaminated,
              |  CASE WHEN tot.n_spans > 0 THEN
              |    round(CAST(COALESCE(h.n_cont, 0) AS DOUBLE)
              |      / CAST(tot.n_spans AS DOUBLE), 6)
              |  ELSE 0.0 END AS contamination_ratio
              |FROM tot LEFT JOIN hits h USING (doc_id)"""
        .stripMargin)),

    // QUANTIZATION MAINTENANCE (the t66/t70 lifecycle for t97):
    // bounds freeze as an asset over the first 400 vectors, the
    // 100-vector "append" encodes against them O(delta), and
    // clipStats measures what the frozen range can no longer
    // represent — per-dim clip counts and fraction, the retrain
    // trigger. Appended order statistics guarantee real clipping at
    // this split (~¼ expected exceedance per side per dim). DuckDB
    // rederives the frozen bounds and replays every comparison.
    QueryDef(
      "t99_quantize_clip_drift",
      (s, dir) => {
        import graft.operators.Quantize
        val e = spread(s, Tables(s, dir, "embeddings"))
        val (mn, mx) = Quantize.dimBounds(
          e.filter(col("vec_id") < 400), "embedding", Dims)
        Quantize.clipStats(
          e.filter(col("vec_id") >= 400), "embedding", mn, mx)
      },
      Some {
        val bounds = (1 to Dims).map(i =>
          s"min(CAST(embedding[$i] AS DOUBLE)) AS mn$i, " +
            s"max(CAST(embedding[$i] AS DOUBLE)) AS mx$i").mkString(", ")
        val arms = (1 to Dims).map { i =>
          s"""SELECT CAST(${i - 1} AS BIGINT) AS dim,
             |  COUNT(*) AS n,
             |  CAST(SUM(CASE WHEN CAST(embedding[$i] AS DOUBLE) < b.mn$i
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_low,
             |  CAST(SUM(CASE WHEN CAST(embedding[$i] AS DOUBLE) > b.mx$i
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_high
             |FROM a, b GROUP BY b.mn$i, b.mx$i""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH b AS (SELECT $bounds FROM embeddings WHERE vec_id < 400),
           |a AS (SELECT embedding FROM embeddings WHERE vec_id >= 400)
           |SELECT dim, n, n_clip_low, n_clip_high,
           |  round(CAST(n_clip_low + n_clip_high AS DOUBLE)
           |    / CAST(n AS DOUBLE), 6) AS clip_fraction
           |FROM ($arms)""".stripMargin
      }),

    // DIRECTIONAL shingle containment (Broder's asymmetric measure) —
    // the subset-duplication detector symmetric Jaccard can't see:
    // the gate plants a 14-token EXCERPT of every 10th doc (id +
    // 100000); the excerpt's 12 shingles are all in its source, so
    // containment(excerpt→source) = 1.0 while Jaccard is ~0.2 —
    // below every near-dup band. Inverted gram join, never all-pairs,
    // running under the FINITE DEFAULT hot-gram cap
    // (NearDup.ContainmentMaxDfDefault — the exhaustive form is an
    // explicit opt-in since round 11); the oracle replays shingling,
    // the df cap, the gram join, and both directional ratios, so the
    // gate stays green at any scale factor.
    QueryDef(
      "t100_containment_pairs",
      (s, dir) => {
        val d = spread(s, docs(s, dir)).select(col("doc_id"), col("text"))
        val ex = d.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 100000).as("doc_id"),
            array_join(slice(split(col("text"), " "), 1, 14), " ")
              .as("text"))
        graft.operators.NearDup.containmentPairs(
          d.unionByName(ex), "doc_id", "text", tau = 0.9)
      },
      Some(
        s"""WITH u AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 100000 AS doc_id,
           |    array_to_string(list_slice(string_split(text, ' '), 1, 14),
           |      ' ') AS text
           |  FROM documents WHERE doc_id % 10 = 0),
           |t AS (SELECT doc_id,
           |    ${DuckSql.shingles3("string_split(text, ' ')")} AS sh
           |  FROM u),
           |sz AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n FROM t
           |  WHERE len(sh) > 0),
           |g AS (SELECT doc_id, unnest(sh) AS gr FROM t),
           |hot AS (SELECT gr FROM g GROUP BY gr
           |  HAVING COUNT(*) > ${graft.operators.NearDup.ContainmentMaxDfDefault}),
           |gk AS (SELECT doc_id, gr FROM g
           |  WHERE gr NOT IN (SELECT gr FROM hot)),
           |i AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
           |    COUNT(*) AS n_inter
           |  FROM gk a JOIN gk b ON a.gr = b.gr AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2)
           |SELECT i.ida AS id_a, i.idb AS id_b, i.n_inter,
           |  sa.n AS n_a, sb.n AS n_b,
           |  round(CAST(i.n_inter AS DOUBLE) / sa.n, 6) AS cont_a,
           |  round(CAST(i.n_inter AS DOUBLE) / sb.n, 6) AS cont_b
           |FROM i JOIN sz sa ON sa.doc_id = i.ida
           |  JOIN sz sb ON sb.doc_id = i.idb
           |WHERE round(CAST(i.n_inter AS DOUBLE) / sa.n, 6) >= 0.9
           |   OR round(CAST(i.n_inter AS DOUBLE) / sb.n, 6) >= 0.9"""
          .stripMargin)),

    // Containment DEDUP policy (t100 composed), under the same
    // FINITE DEFAULT hot-gram cap (oracle replays it): excerpts drop
    // against their strictly-larger containers, equal shingle counts
    // keep the smaller id. Same planted-excerpt fixture; survivors are the
    // originals minus whatever full-duplicate chains resolve. Oracle
    // derives drops from the pair SQL with the same keep-largest
    // when-chain and anti-joins.
    QueryDef(
      "t101_containment_dedup",
      (s, dir) => {
        val d = spread(s, docs(s, dir)).select(col("doc_id"), col("text"))
        val ex = d.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 100000).as("doc_id"),
            array_join(slice(split(col("text"), " "), 1, 14), " ")
              .as("text"))
        graft.operators.NearDup.dedupByContainment(
          d.unionByName(ex), "doc_id", "text", tau = 0.9)
          .select(col("doc_id"))
      },
      Some(
        s"""WITH u AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 100000 AS doc_id,
           |    array_to_string(list_slice(string_split(text, ' '), 1, 14),
           |      ' ') AS text
           |  FROM documents WHERE doc_id % 10 = 0),
           |t AS (SELECT doc_id,
           |    ${DuckSql.shingles3("string_split(text, ' ')")} AS sh
           |  FROM u),
           |sz AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n FROM t
           |  WHERE len(sh) > 0),
           |g AS (SELECT doc_id, unnest(sh) AS gr FROM t),
           |hot AS (SELECT gr FROM g GROUP BY gr
           |  HAVING COUNT(*) > ${graft.operators.NearDup.ContainmentMaxDfDefault}),
           |gk AS (SELECT doc_id, gr FROM g
           |  WHERE gr NOT IN (SELECT gr FROM hot)),
           |i AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
           |    COUNT(*) AS n_inter
           |  FROM gk a JOIN gk b ON a.gr = b.gr AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2),
           |p AS (SELECT i.ida, i.idb, sa.n AS na, sb.n AS nb,
           |    round(CAST(i.n_inter AS DOUBLE) / sa.n, 6) AS ca,
           |    round(CAST(i.n_inter AS DOUBLE) / sb.n, 6) AS cb
           |  FROM i JOIN sz sa ON sa.doc_id = i.ida
           |    JOIN sz sb ON sb.doc_id = i.idb),
           |d AS (SELECT DISTINCT CASE
           |    WHEN ca >= 0.9 AND na < nb THEN ida
           |    WHEN cb >= 0.9 AND nb < na THEN idb
           |    WHEN na = nb AND ca >= 0.9 THEN idb END AS doc_id
           |  FROM p WHERE ca >= 0.9 OR cb >= 0.9)
           |SELECT u.doc_id FROM u
           |WHERE u.doc_id NOT IN (SELECT doc_id FROM d
           |  WHERE doc_id IS NOT NULL)""".stripMargin)),

    // FIXED token windows with overlap — the RAG/context chunker:
    // size 16, stride 12 (4-token overlap), short tails kept. Pure
    // row-local slice arithmetic both engines replay; the oracle
    // enumerates chunk ordinals with a range() lambda over the same
    // token list.
    QueryDef(
      "t102_token_windows",
      (s, dir) => graft.operators.Chunk.tokenWindows(
        spread(s, docs(s, dir)), "doc_id", "text",
        size = 16, stride = 12),
      Some(
        """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
          |  FROM documents WHERE text IS NOT NULL AND text <> ''),
          |c AS (SELECT doc_id, len(toks) AS n, toks,
          |    unnest(range(0, CAST(ceil(CAST(len(toks) AS DOUBLE) / 12)
          |      AS BIGINT))) AS chunk_id
          |  FROM t WHERE len(toks) > 0)
          |SELECT doc_id, chunk_id,
          |  array_to_string(list_slice(toks, chunk_id * 12 + 1,
          |    chunk_id * 12 + 16), ' ') AS chunk_text,
          |  CAST(least(n - chunk_id * 12, 16) AS BIGINT) AS n_tokens
          |FROM c""".stripMargin)),

    // INCREMENTAL containment dedup (t101's daily-append shape, the
    // t26/t93 contract): the shipped corpus exists only as its gram
    // index. The batch carries (a) 14-token excerpts of every 10th
    // shipped doc — contained in history, drop; (b) reversed-token
    // "fresh" docs of every 7th — shingle-disjoint from history by
    // order reversal, stay; (c) excerpts OF those fresh docs —
    // untouched by history but batch-contained in (b), drop by the
    // in-batch keep-largest pass. History can only kill the
    // contained side: a late superset would survive (spec-pinned;
    // here the oracle replays both drop mechanisms and the survivor
    // set).
    QueryDef(
      "t103_containment_incremental",
      (s, dir) => {
        import graft.operators.NearDup
        val d = spread(s, docs(s, dir)).select(col("doc_id"), col("text"))
        val revToks = reverse(split(col("text"), " "))
        val e1 = d.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 100000).as("doc_id"),
            array_join(slice(split(col("text"), " "), 1, 14), " ")
              .as("text"))
        val f = d.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 200000).as("doc_id"),
            array_join(revToks, " ").as("text"))
        val fe = d.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 400000).as("doc_id"),
            array_join(slice(revToks, 1, 14), " ").as("text"))
        val incoming = e1.unionByName(f).unionByName(fe)
        val idx = NearDup.containmentGramIndex(d, "doc_id", "text")
        // Exhaustive opt-in: this gate pins the INCREMENTAL drop
        // semantics and its oracle replays the full gram join; the
        // hot-gram cap's oracle contract lives in t100/t101.
        val (surv, _) = NearDup.dedupByContainmentIncremental(
          incoming, "doc_id", "text", idx, tau = 0.9,
          maxDf = NearDup.ContainmentExhaustive)
        surv.select(col("doc_id"))
      },
      Some(
        s"""WITH inc AS (
           |  SELECT doc_id + 100000 AS doc_id, array_to_string(
           |      list_slice(string_split(text, ' '), 1, 14), ' ') AS text
           |    FROM documents WHERE doc_id % 10 = 0
           |  UNION ALL
           |  SELECT doc_id + 200000, array_to_string(
           |      list_reverse(string_split(text, ' ')), ' ')
           |    FROM documents WHERE doc_id % 7 = 0
           |  UNION ALL
           |  SELECT doc_id + 400000, array_to_string(list_slice(
           |      list_reverse(string_split(text, ' ')), 1, 14), ' ')
           |    FROM documents WHERE doc_id % 7 = 0),
           |ti AS (SELECT doc_id,
           |    ${DuckSql.shingles3("string_split(text, ' ')")} AS sh
           |  FROM inc),
           |tor AS (SELECT doc_id,
           |    ${DuckSql.shingles3("string_split(text, ' ')")} AS sh
           |  FROM documents),
           |gi AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n,
           |    unnest(sh) AS gr FROM ti WHERE len(sh) > 0),
           |go AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n,
           |    unnest(sh) AS gr FROM tor WHERE len(sh) > 0),
           |histdrop AS (SELECT DISTINCT inid FROM (
           |  SELECT gi.doc_id AS inid, gi.n, go.doc_id AS exid,
           |      go.n AS exn, COUNT(*) AS ninter
           |    FROM gi JOIN go ON gi.gr = go.gr
           |    GROUP BY 1, 2, 3, 4)
           |  WHERE round(CAST(ninter AS DOUBLE) / n, 6) >= 0.9
           |    AND n <= exn),
           |after AS (SELECT * FROM inc
           |  WHERE doc_id NOT IN (SELECT inid FROM histdrop)),
           |ta AS (SELECT doc_id,
           |    ${DuckSql.shingles3("string_split(text, ' ')")} AS sh
           |  FROM after),
           |sza AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n FROM ta
           |  WHERE len(sh) > 0),
           |ga AS (SELECT doc_id, unnest(sh) AS gr FROM ta),
           |ia AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
           |    COUNT(*) AS n_inter
           |  FROM ga a JOIN ga b ON a.gr = b.gr AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2),
           |pa AS (SELECT ia.ida, ia.idb, sa.n AS na, sb.n AS nb,
           |    round(CAST(ia.n_inter AS DOUBLE) / sa.n, 6) AS ca,
           |    round(CAST(ia.n_inter AS DOUBLE) / sb.n, 6) AS cb
           |  FROM ia JOIN sza sa ON sa.doc_id = ia.ida
           |    JOIN sza sb ON sb.doc_id = ia.idb),
           |bd AS (SELECT DISTINCT CASE
           |    WHEN ca >= 0.9 AND na < nb THEN ida
           |    WHEN cb >= 0.9 AND nb < na THEN idb
           |    WHEN na = nb AND ca >= 0.9 THEN idb END AS doc_id
           |  FROM pa WHERE ca >= 0.9 OR cb >= 0.9)
           |SELECT after.doc_id FROM after
           |WHERE after.doc_id NOT IN (SELECT doc_id FROM bd
           |  WHERE doc_id IS NOT NULL)""".stripMargin)),

    // MIXTURE/EPOCH planning — the data-scheduling step of a training
    // run: per-source token totals + target weights + a token budget
    // → epochs per source (capped), then deterministic expansion
    // (full epochs + hash-thinned partial epoch). src0 plans >2
    // epochs at sf0.01 (UPSAMPLING — repeated rows), src2/src3 plan
    // <1 (downsampling); the oracle replays plan arithmetic and the
    // salted-bucket partial-epoch draw bit-for-bit.
    QueryDef(
      "t104_mixture_epochs",
      (s, dir) => {
        import graft.operators.Sample
        val d = spread(s, docs(s, dir))
        val plan = Sample.mixtureEpochPlan(d, "source", "n_chars",
          MixtureWeights, MixtureBudget, MixtureMaxEpochs)
        Sample.mixtureEpochExpand(d, "doc_id", "source", plan,
          "graft-epoch")
          .select(col("doc_id"), col("source"), col("epoch"))
      },
      Some {
        val sumW = MixtureWeights.values.sum
        // the SAME normalized double literals the operator computes
        // driver-side (Double.toString round-trips exactly)
        val wRows = MixtureWeights.toSeq.sorted.map { case (k, w) =>
          s"('$k', ${w / sumW})"
        }.mkString(", ")
        val bucket = DuckSql.hexToLong(
          "md5('graft-epoch|' || CAST(d.doc_id AS VARCHAR))", 8)
        s"""WITH wn(source, wt) AS (VALUES $wRows),
           |t AS (SELECT source, CAST(SUM(n_chars) AS BIGINT) AS toks
           |  FROM documents GROUP BY 1),
           |plan AS (SELECT t.source, CASE WHEN toks > 0
           |    THEN LEAST((CAST($MixtureBudget AS DOUBLE) * wt) / toks,
           |      CAST($MixtureMaxEpochs AS DOUBLE))
           |    ELSE 0.0 END AS epochs
           |  FROM t JOIN wn USING (source)),
           |e AS (SELECT d.doc_id, d.source,
           |    CAST(floor(p.epochs) AS BIGINT) + (CASE WHEN
           |      $bucket % 1000000 < CAST(floor(
           |        (p.epochs - floor(p.epochs)) * 1000000) AS BIGINT)
           |      THEN 1 ELSE 0 END) AS n
           |  FROM documents d JOIN plan p USING (source))
           |SELECT doc_id, source, unnest(range(n)) AS epoch
           |FROM e WHERE n > 0""".stripMargin
      }),

    // pHash-family perceptual hash: 8x8 grayscale tile -> 2-D
    // Walsh-Hadamard transform (the DCT's +-1-kernel integer-exact
    // cousin) -> median-threshold the 63 AC coefficients -> 63-bit
    // signature (DC/brightness bit always clear). Same REAL-codec
    // contract as t72: ASCII doc prefixes become actual PNGs, decode
    // through javax.imageio, and the hash arithmetic runs as one
    // native builtin expression the oracle replays in SQL — integer
    // sums, integer median, integer compares, no libm anywhere.
    QueryDef(
      "t105_wht_phash",
      (s, dir) => {
        import s.implicits._
        import graft.multimodal.{Multimodal => mm}
        val media = spread(s, docs(s, dir))
          .filter(octet_length(col("text")) === length(col("text")) &&
            length(col("text")) >= 64 && col("doc_id") % 3 === 2)
          .select(col("doc_id"), col("text")).as[(Long, String)]
          .mapPartitions { it =>
            it.map { case (id, text) =>
              val gray = text.substring(0, 64).getBytes("US-ASCII")
                .map(_.toInt)
              mm.MediaRecord(id, "image", "image/png", 8, 8, 0L,
                mm.grayPng(gray, 8, 8))
            }
          }
        // fused form — whtHash(whtCoefs(...)) as chained columns
        // re-evaluates the coefficient aggregate per hash bit once
        // CollapseProject inlines it (~30× here, and the difference
        // between minutes and hours in t109; see ImageOps scaladoc)
        mm.decodeImageGray(media).toDF()
          .withColumn("wht",
            graft.functions.ImageOps.whtHashFromGray("gray", 8))
          .select(col("media_id").as("doc_id"),
            shiftrightunsigned(col("wht"), 32).as("h_hi"),
            col("wht").bitwiseAND(lit(0xffffffffL)).as("h_lo"))
      },
      Some(
        s"""WITH imgs AS (SELECT doc_id, substr(text, 1, 64) AS s
           |  FROM documents
           |  WHERE octet_length(encode(text)) = length(text)
           |    AND length(text) >= 64 AND doc_id % 3 = 2),
           |px AS (SELECT doc_id, CAST(r.i AS INT) AS i,
           |    ord(substr(s, CAST(r.i AS INT) + 1, 1)) AS g
           |  FROM imgs, range(64) r(i)),
           |cf AS (SELECT doc_id, CAST(rp.p AS INT) AS p,
           |    SUM(g * CASE WHEN (
           |        bit_count((CAST(rp.p AS INT) // 8) & (i // 8)) +
           |        bit_count((CAST(rp.p AS INT) % 8) & (i % 8))
           |      ) % 2 = 0 THEN 1 ELSE -1 END) AS c
           |  FROM px, range(64) rp(p) GROUP BY 1, 2),
           |med AS (SELECT doc_id, c AS m FROM (
           |  SELECT doc_id, c,
           |      row_number() OVER (PARTITION BY doc_id ORDER BY c) AS rn
           |    FROM cf WHERE p >= 1) WHERE rn = 32)
           |SELECT cf.doc_id,
           |  CAST(SUM(CASE WHEN cf.p >= 32 AND cf.c > med.m
           |    THEN (CAST(1 AS BIGINT) << (cf.p - 32))
           |    ELSE 0 END) AS BIGINT) AS h_hi,
           |  CAST(SUM(CASE WHEN cf.p <= 31 AND cf.c > med.m
           |    THEN (CAST(1 AS BIGINT) << cf.p)
           |    ELSE 0 END) AS BIGINT) AS h_lo
           |FROM cf JOIN med USING (doc_id) WHERE cf.p >= 1
           |GROUP BY 1""".stripMargin)),

    // Sequence packing WITH boundary metadata: doc_spans says which
    // document occupies which token range of each packed sequence —
    // the position-id-reset / document-masked-attention ingredient.
    // The oracle rebuilds per-doc BPE token counts, the global
    // offset prefix sum, and every doc×sequence overlap interval
    // arithmetically (exploded to one row per span for hashing).
    QueryDef(
      "t106_pack_spans",
      (s, dir) => graft.operators.Pack.packSequencesWithSpans(
        spread(s, docs(s, dir))
          .select(col("doc_id"),
            graft.functions.Bpe.tokenIds(col("text"),
              graft.functions.Bpe.GateMerges).as("ids")),
        "doc_id", "ids", seqLen = 512, nBuckets = 7)
        .select(col("seq_id"), explode(col("doc_spans")).as("sp"))
        .select(col("seq_id"), col("sp.doc_id").as("doc_id"),
          col("sp.pos").as("pos"), col("sp.len").as("len")),
      Some(
        s"""WITH RECURSIVE
           |${graft.functions.Bpe.duckSql(
               graft.functions.Bpe.GateMerges,
               "documents", "doc_id", "text")},
           |wt AS (SELECT w, min_by(s, len(s)) AS syms
           |  FROM __bpe_rec GROUP BY w),
           |dw AS (SELECT doc_id,
           |    list_filter(string_split(text, ' '), x -> len(x) > 0)
           |      AS ws
           |  FROM documents),
           |dwx AS (SELECT doc_id, unnest(ws) AS w FROM dw),
           |n AS (SELECT doc_id, CAST(SUM(len(wt.syms)) AS BIGINT) AS nt
           |  FROM dwx JOIN wt USING (w) GROUP BY 1),
           |off AS (SELECT doc_id, nt,
           |    COALESCE(SUM(nt) OVER (ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           |      0) AS o
           |  FROM n),
           |sp AS (SELECT doc_id, nt, o,
           |    unnest(range(CAST(o // 512 AS BIGINT),
           |      CAST((o + nt - 1) // 512 + 1 AS BIGINT))) AS s
           |  FROM off WHERE nt > 0)
           |SELECT CAST(s AS BIGINT) AS seq_id, doc_id,
           |  CAST(GREATEST(s * 512, o) % 512 AS INT) AS pos,
           |  CAST(LEAST((s + 1) * 512, o + nt)
           |    - GREATEST(s * 512, o) AS INT) AS len
           |FROM sp""".stripMargin)),

    // BPE round trip: decode(tokenIds(text)) reconstructs the
    // whitespace-split word concatenation for ASCII docs — one
    // trivially-stated oracle that any vocab-table, id-space, or
    // merge-order corruption breaks.
    QueryDef(
      "t107_bpe_roundtrip",
      (s, dir) => spread(s, docs(s, dir))
        .filter(octet_length(col("text")) === length(col("text")))
        .select(col("doc_id"),
          graft.functions.Bpe.decode(
            graft.functions.Bpe.tokenIds(col("text"),
              graft.functions.Bpe.GateMerges),
            graft.functions.Bpe.GateMerges).as("decoded")),
      Some(
        """SELECT doc_id, array_to_string(
          |    list_filter(string_split(text, ' '), x -> len(x) > 0),
          |    '') AS decoded
          |  FROM documents
          |  WHERE octet_length(encode(text)) = length(text)""".stripMargin)),

    // CHANGE DATA FEED at per-commit granularity (t90's diff, walked
    // commit by commit): three deterministic commits, then
    // changeFeed(1, 3) — the v2 boundary and the v3 boundary each
    // surface their own added/removed events tagged commit_version,
    // NOT one net diff. The oracle rebuilds all three snapshot CTEs
    // and both EXCEPT ALL boundary diffs.
    QueryDef(
      "t108_change_feed",
      (s, dir) => {
        import graft.operators.{CommitLogTableFormat => clf}
        val base = gatePath(dir, "cdf")
        val fsPath = new org.apache.hadoop.fs.Path(base)
        fsPath.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(fsPath, true) // deterministic rebuild per run
        val cust = Tables(s, dir, "customer")
        clf.fullRefresh(s, cust, base) // v1
        val v2 = cust.filter(col("c_custkey") % 7 =!= 0)
          .withColumn("c_acctbal",
            when(col("c_custkey") % 5 === 0, col("c_acctbal") + 100.0)
              .otherwise(col("c_acctbal")))
        clf.fullRefresh(s, v2, base) // v2
        val v3 = v2.filter(col("c_custkey") % 3 =!= 0)
          .withColumn("c_acctbal",
            when(col("c_custkey") % 2 === 0, col("c_acctbal") + 7.0)
              .otherwise(col("c_acctbal")))
        clf.fullRefresh(s, v3, base) // v3
        clf.changeFeed(s, base, 1L, 3L)
      },
      Some(
        s"""WITH v1 AS (SELECT c_custkey, c_name, c_nationkey, c_acctbal,
           |    c_mktsegment FROM customer),
           |v2 AS (SELECT c_custkey, c_name, c_nationkey,
           |    CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 100.0
           |      ELSE c_acctbal END AS c_acctbal,
           |    c_mktsegment FROM customer WHERE c_custkey % 7 <> 0),
           |v3 AS (SELECT c_custkey, c_name, c_nationkey,
           |    CASE WHEN c_custkey % 2 = 0 THEN c_acctbal + 7.0
           |      ELSE c_acctbal END AS c_acctbal,
           |    c_mktsegment FROM v2 WHERE c_custkey % 3 <> 0)
           |SELECT *, 'added' AS change, CAST(2 AS BIGINT) AS commit_version
           |FROM (SELECT * FROM v2 EXCEPT ALL SELECT * FROM v1)
           |UNION ALL
           |SELECT *, 'removed' AS change, CAST(2 AS BIGINT)
           |FROM (SELECT * FROM v1 EXCEPT ALL SELECT * FROM v2)
           |UNION ALL
           |SELECT *, 'added' AS change, CAST(3 AS BIGINT)
           |FROM (SELECT * FROM v3 EXCEPT ALL SELECT * FROM v2)
           |UNION ALL
           |SELECT *, 'removed' AS change, CAST(3 AS BIGINT)
           |FROM (SELECT * FROM v2 EXCEPT ALL SELECT * FROM v3)"""
          .stripMargin)),

    // TWO-SIGNATURE image near-dup (dHash candidates, WHT veto):
    // families of 3 synthetic 9x8 tiles differing only at pixel 70 —
    // even families perturb by +-3 (both signatures see near-dups,
    // family collapses), odd families by +-90 (dHash's local
    // gradients still within radius, but the WHT's global
    // coefficients swing past the median -> the B-signature VETOES
    // the collapse either way the data falls; the oracle computes
    // the exact ground truth pairwise, both hammings included).
    // Real PNG codec in the loop as in t72/t73/t105.
    QueryDef(
      "t109_image_neardup_twosig",
      (s, dir) => {
        import s.implicits._
        import graft.multimodal.{Multimodal => mm}
        val media = spread(s, docs(s, dir))
          .select(col("doc_id")).as[Long]
          .mapPartitions { it =>
            it.map { id =>
              val fam = id / 3
              val mem = id % 3
              val amp = if (fam % 2 == 0) 3 else 90
              val gray = Array.tabulate(72) { j =>
                if (j == 70)
                  ((fam * 37 + 4900 + mem * amp) % 251).toInt
                else ((fam * 37 + j.toLong * j) % 251).toInt
              }
              mm.MediaRecord(id, "image", "image/png", 9, 8, 0L,
                mm.grayPng(gray, 9, 8))
            }
          }
        // whtHashFromGray, NOT whtHash(whtCoefs(crop)): the chained
        // form collapses into one projection whose hash fold re-evals
        // the full coefficient aggregate per bit (O(64⁴)/row — wedged
        // this gate for hours; see the ImageOps scaladoc)
        val sigs = mm.decodeImageGray(media).toDF()
          .withColumn("dhash", graft.functions.ImageOps.dHash("gray"))
          .withColumn("wht",
            graft.functions.ImageOps.whtHashFromGray("gray", 9))
          .select(col("media_id").as("doc_id"), col("dhash"), col("wht"))
        graft.operators.NearDup.dedupBySignaturePair(sigs, "doc_id",
          "dhash", "wht", maxHamA = 3, maxHamB = 3)
          .select(col("doc_id"))
      },
      Some {
        val g = "CASE WHEN j = 70 THEN (fam * 37 + 4900 + mem * " +
          "(CASE WHEN fam % 2 = 0 THEN 3 ELSE 90 END)) % 251 " +
          "ELSE (fam * 37 + j * j) % 251 END"
        s"""WITH d AS (SELECT doc_id, doc_id // 3 AS fam,
           |    doc_id % 3 AS mem FROM documents),
           |pix AS (SELECT doc_id, j, $g AS gv
           |  FROM d, (SELECT unnest(range(72)) AS j)),
           |dbits AS (SELECT p1.doc_id, t.i,
           |    CASE WHEN p2.gv > p1.gv THEN 1 ELSE 0 END AS b
           |  FROM (SELECT unnest(range(64)) AS i) t
           |  JOIN pix p1 ON p1.j = (t.i // 8) * 9 + (t.i % 8)
           |  JOIN pix p2 ON p2.doc_id = p1.doc_id
           |    AND p2.j = (t.i // 8) * 9 + (t.i % 8) + 1),
           |hama AS (SELECT x.doc_id AS hi_id, y.doc_id AS lo_id,
           |    SUM(CASE WHEN x.b <> y.b THEN 1 ELSE 0 END) AS h
           |  FROM dbits x JOIN dbits y ON x.i = y.i
           |    AND x.doc_id > y.doc_id
           |  GROUP BY 1, 2),
           |cf AS (SELECT px.doc_id, CAST(rp.p AS INT) AS p,
           |    SUM(px.gv * CASE WHEN (
           |        bit_count((CAST(rp.p AS INT) // 8) & (CAST(ci.i AS INT) // 8)) +
           |        bit_count((CAST(rp.p AS INT) % 8) & (CAST(ci.i AS INT) % 8))
           |      ) % 2 = 0 THEN 1 ELSE -1 END) AS c
           |  FROM (SELECT unnest(range(64)) AS i) ci
           |  JOIN pix px ON px.j = (CAST(ci.i AS INT) // 8) * 9
           |    + (CAST(ci.i AS INT) % 8),
           |  (SELECT unnest(range(64)) AS p) rp
           |  GROUP BY 1, 2),
           |med AS (SELECT doc_id, c AS m FROM (
           |  SELECT doc_id, c,
           |      row_number() OVER (PARTITION BY doc_id ORDER BY c) AS rn
           |    FROM cf WHERE p >= 1) WHERE rn = 32),
           |wbits AS (SELECT cf.doc_id, cf.p,
           |    CASE WHEN cf.c > med.m THEN 1 ELSE 0 END AS b
           |  FROM cf JOIN med USING (doc_id) WHERE cf.p >= 1),
           |hamb AS (SELECT x.doc_id AS hi_id, y.doc_id AS lo_id,
           |    SUM(CASE WHEN x.b <> y.b THEN 1 ELSE 0 END) AS h
           |  FROM wbits x JOIN wbits y ON x.p = y.p
           |    AND x.doc_id > y.doc_id
           |  GROUP BY 1, 2),
           |removed AS (SELECT DISTINCT a.hi_id FROM hama a
           |  JOIN hamb b ON a.hi_id = b.hi_id AND a.lo_id = b.lo_id
           |  WHERE a.h <= 3 AND b.h <= 3)
           |SELECT doc_id FROM d
           |WHERE doc_id NOT IN (SELECT hi_id FROM removed)"""
          .stripMargin
      }),

    // ---- KMV theta sketch: distinct-set algebra with INTERSECTION —
    // the estimate HLL's per-register maxima structurally cannot
    // produce. Two sub-corpora (lineitem split by line-number parity)
    // sketch their distinct order keys at k=256; per-set, union and
    // intersection estimates must land within 20% of exact (single-set
    // RSE ≈ 1/√254 ≈ 6.3%; the intersection compounds both
    // thresholds). xxhash64 is fixed, so the estimates are
    // deterministic per dataset — the tolerance absorbs sketch error,
    // not run-to-run noise. The oracle recomputes the EXACT counts
    // (inclusion-exclusion for the intersection) and pins the
    // accuracy booleans TRUE, the t40 pattern: the estimator itself
    // is engine-side and accuracy-gated, the exact algebra is
    // cross-checked bit-for-bit.
    QueryDef(
      "t110_kmv_intersect",
      (s, dir) => {
        val k = 256
        val li = Tables(s, dir, "lineitem")
          .withColumn("half", pmod(col("l_linenumber"), lit(2)))
        val sk = graft.operators.Sketches.kmvSketch(
          spread(s, li), Seq("half"), "l_orderkey", k)
          .withColumn("g", lit(1))
        val est = graft.operators.Sketches.kmvSetEstimates(
          sk.filter(col("half") === 0), sk.filter(col("half") === 1),
          Seq("g"), k)
        val exact = li.agg(
          countDistinct(when(col("half") === 0, col("l_orderkey")))
            .as("n_a"),
          countDistinct(when(col("half") === 1, col("l_orderkey")))
            .as("n_b"),
          countDistinct(col("l_orderkey")).as("n_union"))
          .withColumn("n_inter",
            col("n_a") + col("n_b") - col("n_union"))
        val ok = (e: Column, x: Column) =>
          abs(e - x) <= lit(0.2) * x
        exact.crossJoin(broadcast(est))
          .select(col("n_a"), col("n_b"), col("n_union"), col("n_inter"),
            ok(col("est_a"), col("n_a")).as("ok_a"),
            ok(col("est_b"), col("n_b")).as("ok_b"),
            ok(col("est_union"), col("n_union")).as("ok_union"),
            ok(col("est_inter"), col("n_inter")).as("ok_inter"))
      },
      Some("""SELECT n_a, n_b, n_union,
             |  n_a + n_b - n_union AS n_inter,
             |  TRUE AS ok_a, TRUE AS ok_b,
             |  TRUE AS ok_union, TRUE AS ok_inter
             |FROM (SELECT
             |  COUNT(DISTINCT CASE WHEN l_linenumber % 2 = 0
             |    THEN l_orderkey END) AS n_a,
             |  COUNT(DISTINCT CASE WHEN l_linenumber % 2 = 1
             |    THEN l_orderkey END) AS n_b,
             |  COUNT(DISTINCT l_orderkey) AS n_union
             |  FROM lineitem)""".stripMargin)),

    // ---- HTML boilerplate extraction: each document is wrapped in a
    // deterministic page shell (style + script blocks with a bare `<`,
    // a comment, an entity, an anchor, nbsp) and the extractor must
    // recover EXACTLY the closed-form prose — the oracle does NOT
    // replay the regexes, it constructs the expected answer
    // arithmetically, so the gate proves script/style content-drop,
    // tag strip, decode order (&amp; last), and whitespace collapse
    // against an independent derivation. link_density/text_share are
    // ratios of the same integer lengths on both engines → exact
    // IEEE parity. Row-local codegen'd regex chain: scan-bound at
    // 100 TB, no shuffle.
    QueryDef(
      "t111_html_extract",
      (s, dir) => {
        import graft.functions.HtmlOps
        val html = concat(
          lit("<html><head><style>p { color: red; }</style>" +
            "<script>var x = 1 < 2;</script></head><body><h1>Doc "),
          col("doc_id").cast("string"),
          lit("</h1><!-- nav --><p>"), col("text"),
          lit(" &amp; more</p><a href=\"/x\">"), col("lang"),
          lit(" link</a>&nbsp;<br/></body></html>"))
        spread(s, docs(s, dir))
          .select(col("doc_id"), html.as("html"))
          .select(col("doc_id"),
            HtmlOps.extractText(col("html")).as("extracted"),
            // quantize at 6 dp via decimal, but EMIT double: the two
            // engines' decimal surface reprs differ (trailing zeros),
            // while decimal(18,6)->double is the same correctly-
            // rounded n/1e6 on both (t13 pattern; r7 driver lesson)
            HtmlOps.linkDensity(col("html"))
              .cast("decimal(18,6)").cast("double").as("link_density"),
            HtmlOps.textShare(col("html"))
              .cast("decimal(18,6)").cast("double").as("text_share"))
          .withColumn("keep",
            col("link_density") <= 0.5 && col("text_share") >= 0.2)
      },
      Some("""WITH h AS (SELECT doc_id, lang, text,
             |  '<html><head><style>p { color: red; }</style>' ||
             |  '<script>var x = 1 < 2;</script></head><body><h1>Doc ' ||
             |  doc_id || '</h1><!-- nav --><p>' || text ||
             |  ' &amp; more</p><a href="/x">' || lang ||
             |  ' link</a>&nbsp;<br/></body></html>' AS html
             |  FROM documents),
             |e AS (SELECT doc_id, html,
             |  trim(regexp_replace('Doc ' || doc_id || ' ' || text ||
             |    ' & more ' || lang || ' link', '\s+', ' ', 'g'))
             |    AS extracted,
             |  length(lang || ' link') AS alen FROM h)
             |SELECT doc_id, extracted,
             |  CAST(CAST(CASE WHEN length(extracted) > 0
             |    THEN CAST(alen AS DOUBLE) / length(extracted)
             |    ELSE 0.0 END AS DECIMAL(18,6)) AS DOUBLE) AS link_density,
             |  CAST(CAST(CAST(length(extracted) AS DOUBLE) / length(html)
             |    AS DECIMAL(18,6)) AS DOUBLE) AS text_share,
             |  (link_density <= 0.5 AND text_share >= 0.2) AS keep
             |FROM e""".stripMargin)),

    // ---- PCA corpus pass: the full tagged scatter-matrix cell set
    // (upper-triangle Σ floor(x_i·x_j·1e6), linear sums, count) —
    // the ONLY distributed work in Pca.fit; the d×d eigensolve runs
    // on the driver over these ≤ d(d+1)/2+d+1 cells and is gated in
    // PcaSpec (orthonormal basis, descending eigenvalues, variance
    // parity, reconstruction error). floor-to-BIGINT per term makes
    // the sums order-free: DuckDB re-derives every cell bit-for-bit
    // from a dims² lateral expansion. Map-side partial aggregation
    // collapses the 2145 cells per partition before the one narrow
    // shuffle — corpus rows never move.
    QueryDef(
      "t112_pca_moments",
      (s, dir) => graft.operators.Pca.moments(
        spread(s, Tables(s, dir, "embeddings")), "embedding", Dims),
      Some(s"""SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
             |  CAST(SUM(CAST(floor(CAST(embedding[i + 1] AS DOUBLE) *
             |    CAST(embedding[j + 1] AS DOUBLE) * 1000000.0)
             |    AS BIGINT)) AS BIGINT) AS s
             |FROM embeddings,
             |  (SELECT unnest(range($Dims)) AS i),
             |  (SELECT unnest(range($Dims)) AS j)
             |WHERE j >= i GROUP BY 1, 2
             |UNION ALL
             |SELECT CAST(i AS INTEGER), -1,
             |  CAST(SUM(CAST(floor(CAST(embedding[i + 1] AS DOUBLE) *
             |    1000000.0) AS BIGINT)) AS BIGINT)
             |FROM embeddings, (SELECT unnest(range($Dims)) AS i)
             |GROUP BY 1
             |UNION ALL
             |SELECT -1, -1, COUNT(*) FROM embeddings""".stripMargin)),

    // ---- URL canonicalization: four messy-spelling families (upper
    // scheme/host + default port + tracking params + fragment; https
    // 443; hostname-only with all-tracking query; non-http scheme
    // keeping its port) must land on closed-form canonical URLs — the
    // oracle CONSTRUCTS the expected strings, it does not replay the
    // regexes, so scheme/host lowering, port policy, '' → '/' path,
    // param filter+sort, and fragment drop are each proven against an
    // independent derivation. This is the key-maker for crawl dedup
    // (canonical) and per-domain caps (host); row-local, no shuffle.
    QueryDef(
      "t113_url_canonical",
      (s, dir) => {
        import graft.functions.UrlOps
        val id = col("doc_id").cast("string")
        val m = pmod(col("doc_id"), lit(4))
        val url = when(m === 0, concat(
            lit("HTTP://WWW.Example.com:80/a/"), id,
            lit("?z=9&utm_campaign=c&a=1#top")))
          .when(m === 1, concat(lit("https://Example.COM:443/b%20c/"), id))
          .when(m === 2,
            lit("https://Sub.example.org?utm_source=s&fbclid=f"))
          .otherwise(concat(lit("ftp://Files.example.net:21/x/"), id))
        spread(s, docs(s, dir))
          .select(col("doc_id"), url.as("url"))
          .withColumn("canon", UrlOps.canonicalUrl(col("url")))
          .withColumn("host", UrlOps.host(col("url")))
      },
      Some("""SELECT doc_id,
             |  CASE doc_id % 4
             |    WHEN 0 THEN 'HTTP://WWW.Example.com:80/a/' || doc_id
             |      || '?z=9&utm_campaign=c&a=1#top'
             |    WHEN 1 THEN 'https://Example.COM:443/b%20c/' || doc_id
             |    WHEN 2 THEN 'https://Sub.example.org?utm_source=s&fbclid=f'
             |    ELSE 'ftp://Files.example.net:21/x/' || doc_id END AS url,
             |  CASE doc_id % 4
             |    WHEN 0 THEN 'http://www.example.com/a/' || doc_id
             |      || '?a=1&z=9'
             |    WHEN 1 THEN 'https://example.com/b%20c/' || doc_id
             |    WHEN 2 THEN 'https://sub.example.org/'
             |    ELSE 'ftp://files.example.net:21/x/' || doc_id END AS canon,
             |  CASE doc_id % 4
             |    WHEN 0 THEN 'www.example.com'
             |    WHEN 1 THEN 'example.com'
             |    WHEN 2 THEN 'sub.example.org'
             |    ELSE 'files.example.net' END AS host
             |FROM documents""".stripMargin)),

    // ---- PSI corpus-drift monitor: events split at 2024-01-15 into
    // baseline/current snapshots; per-bin (p−q)·ln(p/q) terms over
    // fixed value edges. Each side collapses to ≤ 7 cells map-side —
    // two 100-TB snapshots meet only at a bins×bins join. The oracle
    // replays the arithmetic (counts → ε-floored shares → term) so
    // binning, the full-outer bin union, and the ln-term all match to
    // 6 dp.
    QueryDef(
      "t114_psi_drift",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        val split = lit("2024-01-15").cast("timestamp")
        graft.operators.Drift.psiNumeric(
          spread(s, ev).filter(col("ts") < split),
          spread(s, ev).filter(col("ts") >= split),
          "value", PsiEdges)
          // quantize at 6 dp but emit double — decimal-typed output
          // columns hash-mismatch across engines (trailing-zero repr);
          // decimal(18,6)->double is bit-identical both sides
          .withColumn("psi_term",
            col("psi_term").cast("decimal(18,6)").cast("double"))
      },
      Some {
        val binSql = PsiEdges.map(e =>
          s"(CASE WHEN value >= $e THEN 1 ELSE 0 END)")
          .mkString(" + ")
        s"""WITH b AS (SELECT $binSql AS bin, COUNT(*) AS n_base
           |  FROM events WHERE ts < TIMESTAMP '2024-01-15' GROUP BY 1),
           |c AS (SELECT $binSql AS bin, COUNT(*) AS n_cur
           |  FROM events WHERE ts >= TIMESTAMP '2024-01-15' GROUP BY 1),
           |j AS (SELECT bin, COALESCE(n_base, 0) AS n_base,
           |    COALESCE(n_cur, 0) AS n_cur
           |  FROM b FULL OUTER JOIN c USING (bin)),
           |t AS (SELECT SUM(n_base) AS tb, SUM(n_cur) AS tc FROM j)
           |SELECT bin, n_base, n_cur,
           |  CAST(CAST((p - q) * ln(p / q) AS DECIMAL(18,6))
           |    AS DOUBLE) AS psi_term
           |FROM (SELECT bin, n_base, n_cur,
           |    greatest(CAST(n_base AS DOUBLE) / tb, 1e-6) AS p,
           |    greatest(CAST(n_cur AS DOUBLE) / tc, 1e-6) AS q
           |  FROM j, t)""".stripMargin
      }),

    // ---- THIRD real video container (t63 MJPEG / t75 GIF sibling),
    // the UNCOMPRESSED one: docs become YUV4MPEG2 streams whose
    // 16×16 Y planes carry a saturating ramp min(base+p, 255) —
    // patterned, so a frame-boundary shear (e.g. mis-skipped C420
    // chroma) shifts the mean, unlike a solid frame. Raw YUV + PNG
    // re-encode are lossless end-to-end, so DuckDB rederives every
    // frame's mean luminance from the construction arithmetic alone
    // (same ÷256 IEEE division both sides).
    QueryDef(
      "t115_y4m_frames",
      (s, dir) => {
        import s.implicits._
        import graft.multimodal.{Multimodal => mm}
        val media = spread(s, docs(s, dir))
          .filter(col("doc_id") % 3 === 0)
          .select(col("doc_id"), (col("doc_id") % 4 + 1).cast("int").as("nf"))
          .as[(Long, Int)]
          .mapPartitions { it =>
            it.map { case (id, nf) =>
              val frames = (0 until nf).map { i =>
                val base = ((id * 47 + i * 61) % 200).toInt
                Array.tabulate(16 * 16)(p => math.min(base + p, 255))
              }
              mm.MediaRecord(id, "video", "video/x-y4m", 16, 16,
                nf * 100L, mm.y4mVideo(frames, 16, 16))
            }
          }
        mm.frameStats(mm.sampleFramesDecoded(media, everyMs = 100,
          codec = mm.Y4mCodec)).toDF()
          .select(col("media_id").as("doc_id"), col("frame_idx"),
            col("ts_ms"), col("width"), col("height"), col("mean_lum"))
      },
      Some {
        s"""WITH v AS (
           |  SELECT doc_id, CAST(doc_id % 4 + 1 AS BIGINT) AS nf
           |  FROM documents WHERE doc_id % 3 = 0),
           |f AS (SELECT doc_id, unnest(range(nf)) AS i FROM v),
           |px AS (SELECT doc_id, i, (doc_id * 47 + i * 61) % 200 AS base,
           |    unnest(range(256)) AS p
           |  FROM f),
           |m AS (SELECT doc_id, i,
           |    SUM(LEAST(base + p, 255)) AS lum_sum
           |  FROM px GROUP BY doc_id, i)
           |SELECT doc_id, CAST(i AS INT) AS frame_idx,
           |  CAST(i * 100 AS BIGINT) AS ts_ms,
           |  CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
           |  CAST(lum_sum AS DOUBLE) / 256.0 AS mean_lum
           |FROM m""".stripMargin
      }),

    // ---- Bounded-iteration graph analytics: 3-round PageRank over a
    // REAL data-derived directed graph (supplier→customer edges where
    // they co-occur on a returned ('R') lineitem, customer→supplier on
    // an accepted ('A') one — cycles exist wherever a pair trades in
    // both states). Link-graph rank is the standard web-crawl quality
    // prior for sampling weights; the fixed-point BIGINT formulation
    // (see Graph.pageRankFixedPoint) makes a distributed iterative
    // algorithm BIT-EXACT against DuckDB replaying the same three
    // unrolled rounds — no float tolerance hides a wiring bug.
    QueryDef(
      "t116_pagerank",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
        val o = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"))
        val b = li.join(o, col("l_orderkey") === col("o_orderkey"))
          .select(col("l_suppkey").as("sk"),
            (col("o_custkey") + 1000000L).as("ck"), col("l_returnflag"))
        val edges = b.filter(col("l_returnflag") === "R")
          .select(col("sk").as("src"), col("ck").as("dst"))
          .unionByName(b.filter(col("l_returnflag") === "A")
            .select(col("ck").as("src"), col("sk").as("dst")))
          .distinct()
        graft.operators.Graph.pageRankFixedPoint(edges, "src", "dst",
          iters = 3)
          .orderBy(col("rank").desc, col("node").asc).limit(20)
      },
      Some {
        val contrib = (r: String) =>
          s"""SELECT e.dst AS node,
             |    SUM(($r.rank * 85) // (100 * deg.deg)) AS m
             |  FROM e JOIN $r ON e.src = $r.node
             |    JOIN deg ON e.src = deg.src GROUP BY 1""".stripMargin
        // SUM(BIGINT) is HUGEINT in DuckDB — cast each round's rank
        // back down so the final schema is BIGINT like the Spark side
        val round = (c: String) =>
          s"""SELECT nodes.node,
             |    CAST((SELECT 150000000 // n FROM nn)
             |      + COALESCE($c.m, 0) AS BIGINT) AS rank
             |  FROM nodes LEFT JOIN $c USING (node)""".stripMargin
        s"""WITH b AS (SELECT l_suppkey AS sk, o_custkey + 1000000 AS ck,
           |    l_returnflag AS f
           |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
           |e AS (SELECT DISTINCT sk AS src, ck AS dst FROM b WHERE f = 'R'
           |  UNION SELECT DISTINCT ck AS src, sk AS dst FROM b WHERE f = 'A'),
           |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
           |nn AS (SELECT COUNT(*) AS n FROM nodes),
           |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY 1),
           |r0 AS (SELECT node, (SELECT 1000000000 // n FROM nn) AS rank
           |  FROM nodes),
           |c1 AS (${contrib("r0")}),
           |r1 AS (${round("c1")}),
           |c2 AS (${contrib("r1")}),
           |r2 AS (${round("c2")}),
           |c3 AS (${contrib("r2")}),
           |r3 AS (${round("c3")})
           |SELECT node, rank FROM r3
           |ORDER BY rank DESC, node ASC LIMIT 20""".stripMargin
      }),

    // ---- BM25 keyword relevance, whole-corpus scored in one pass:
    // corpus stats (n, Σdl, per-term df) collapse to ONE row map-side
    // and broadcast back — no token instance ever shuffles. The ln in
    // idf is the one sub-ulp cross-engine hazard, so scores round to
    // 6 dp before the (score, id) ordering (the t31 contract).
    QueryDef(
      "t117_bm25_topk",
      (s, dir) => graft.operators.Retrieval
        .bm25(spread(s, docs(s, dir)), "doc_id", "text", BmTerms)
        .orderBy(col("bm25").desc, col("doc_id").asc).limit(20),
      Some(s"""WITH ${bm25Ctes(BmTerms)}
              |SELECT doc_id, bm25 FROM sc
              |ORDER BY bm25 DESC, doc_id ASC LIMIT 20""".stripMargin)),

    // ---- Hybrid retrieval: reciprocal-rank fusion of the BM25
    // keyword ranking with a vector-cosine ranking against a literal
    // query embedding. Ranks are integers, so the fused 1/(60+r) sum
    // is BIT-EXACT cross-engine — the reason RRF beats score
    // interpolation for heterogeneous rankers. Global row_number here
    // is gate-scale only; production fuses per-query candidate lists
    // (≤ k rows after ANN/top-k), where the rank window is local to
    // each query's partition.
    QueryDef(
      "t118_rrf_fusion",
      (s, dir) => {
        import graft.functions.VectorOps
        val kw = graft.operators.Retrieval
          .bm25(spread(s, docs(s, dir)), "doc_id", "text", BmTerms)
          .withColumn("rk", row_number().over(
            Window.orderBy(col("bm25").desc, col("doc_id").asc)))
        val qv = array(RrfQueryVec.map(lit): _*)
        val cs = spread(s, Tables(s, dir, "embeddings"))
          .select(col("vec_id"),
            VectorOps.asDouble(col("embedding")).as("v"))
          .select(col("vec_id"), VectorOps.cosine(col("v"), qv,
            VectorOps.norm(col("v")), VectorOps.norm(qv)).as("cos"))
        val rv = cs.withColumn("rv", row_number().over(
          Window.orderBy(col("cos").desc, col("vec_id").asc)))
        kw.join(rv, col("doc_id") === col("vec_id"))
          .select(col("doc_id"), col("rk"), col("rv"),
            graft.operators.Retrieval.rrf(60, col("rk"), col("rv"))
              .as("rrf"))
          .orderBy(col("rrf").desc, col("doc_id").asc).limit(20)
      },
      Some {
        val qvLit = RrfQueryVec.mkString("[", ", ", "]")
        s"""WITH ${bm25Ctes(BmTerms)},
           |rk AS (SELECT doc_id, row_number() OVER (
           |    ORDER BY bm25 DESC, doc_id ASC) AS rk FROM sc),
           |q AS (SELECT $qvLit AS qv),
           |cs AS (SELECT vec_id,
           |    round(${DuckSql.dot("embedding", "qv", Dims)}
           |      / (sqrt(${DuckSql.dot("embedding", "embedding", Dims)})
           |         * sqrt(${DuckSql.dot("qv", "qv", Dims)})), 6) AS cos
           |  FROM embeddings, q),
           |rv AS (SELECT vec_id, row_number() OVER (
           |    ORDER BY cos DESC, vec_id ASC) AS rv FROM cs)
           |SELECT doc_id, rk, rv,
           |  1.0 / (60.0 + rk) + 1.0 / (60.0 + rv) AS rrf
           |FROM rk JOIN rv ON doc_id = vec_id
           |ORDER BY rrf DESC, doc_id ASC LIMIT 20""".stripMargin
      }),

    // ---- Interchange-format round trip: the documents table leaves
    // as ORC, CSV, and JSON-lines and comes back bit-identical — one
    // content digest per format, all three pinned to the digest DuckDB
    // computes from the parquet original. Proves the non-parquet
    // source/sink legs (the formats a lake ingests from partners /
    // exports to BI) are lossless for a typed schema, reads with
    // EXPLICIT schemas (no inference nondeterminism), and md5-digest
    // parity holds end-to-end. 10 hex chars per row digest keeps the
    // BIGINT sum overflow-free past 10⁵× this corpus.
    QueryDef(
      "t119_interchange_roundtrip",
      (s, dir) => {
        val base = gatePath(dir, "interchange")
        val fsPath = new org.apache.hadoop.fs.Path(base)
        fsPath.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(fsPath, true) // deterministic rebuild per run
        val d = docs(s, dir)
          .select(col("doc_id"), col("text"), col("lang"), col("source"),
            col("n_chars"))
        d.write.mode("overwrite").orc(s"$base/orc")
        d.write.mode("overwrite").csv(s"$base/csv")
        d.write.mode("overwrite").json(s"$base/json")
        // multiLine: embedded newlines arrive quoted from the writer
        // and must not split records on read. The remaining DECLARED
        // CSV-leg limitation is the format's own: an empty string
        // reads back as NULL (ORC/JSON legs are exact for it).
        val back = Seq(
          "orc" -> s.read.schema(d.schema).orc(s"$base/orc"),
          "csv" -> s.read.schema(d.schema).option("multiLine", "true")
            .csv(s"$base/csv"),
          "json" -> s.read.schema(d.schema).json(s"$base/json"))
        back.map { case (fmt, df) =>
          df.agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_id"),
            sum(col("n_chars")).as("sum_chars"),
            sum(conv(substring(md5(
              concat_ws("|", col("text"), col("lang"), col("source"))
                .cast("binary")), 1, 10), 16, 10).cast("long")).as("h"))
            .withColumn("fmt", lit(fmt))
            .select("fmt", "n", "sum_id", "sum_chars", "h")
        }.reduceLeft(_ unionByName _)
      },
      Some {
        val h = DuckSql.hexToLong(
          "md5(text || '|' || lang || '|' || source)", 10)
        s"""WITH d AS (SELECT COUNT(*) AS n,
           |    CAST(SUM(doc_id) AS BIGINT) AS sum_id,
           |    CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           |    CAST(SUM($h) AS BIGINT) AS h
           |  FROM documents)
           |SELECT fmt, n, sum_id, sum_chars, h
           |FROM d, (VALUES ('orc'), ('csv'), ('json')) t(fmt)""".stripMargin
      }),

    // ---- Misra–Gries heavy hitters: 5 genuinely heavy keys (~1000
    // rows each) hide among ~5000 singletons; per-partition k=16
    // summaries emit ≤ k·partitions candidates (recall-complete for
    // freq·(k+1) > n by the MG guarantee, any row order), then an
    // exact broadcast-semi-join recount filters to the true heavy
    // set — deterministic output from an order-sensitive sketch. The
    // oracle is the naive full GROUP BY + HAVING, which at 100 TB
    // would shuffle every distinct value; the sketch path shuffles
    // only candidate rows.
    QueryDef(
      "t120_heavy_hitters",
      (s, dir) => {
        val e = spread(s, Tables(s, dir, "events"))
          .withColumn("key",
            when(col("event_id") % 2 === 0, col("event_type"))
              .otherwise(concat(col("event_type"), lit("-"),
                col("event_id").cast("string"))))
        graft.operators.Sketches.heavyHitters(e, "key", k = 16)
      },
      Some("""WITH e AS (SELECT CASE WHEN event_id % 2 = 0
             |    THEN event_type
             |    ELSE event_type || '-' || CAST(event_id AS VARCHAR)
             |    END AS value
             |  FROM events),
             |n AS (SELECT COUNT(*) AS n FROM e WHERE value IS NOT NULL)
             |SELECT value, COUNT(*) AS freq FROM e, n
             |WHERE value IS NOT NULL
             |GROUP BY value, n.n HAVING COUNT(*) * 17 > n.n"""
        .stripMargin)),

    // ---- Robust per-type outlier profile: median / MAD / robust
    // z-count. Medians are interpolated from the same sorted doubles
    // on both engines (Spark `percentile` and DuckDB `quantile_cont`
    // share the definition), so med/mad/counts compare bit-exactly —
    // including the k·1.4826·MAD threshold, computed from identical
    // operands on both sides.
    QueryDef(
      "t121_mad_outliers",
      (s, dir) => graft.operators.Drift.madOutliers(
        spread(s, Tables(s, dir, "events")), Seq("event_type"), "value"),
      Some("""WITH med AS (SELECT event_type,
             |    quantile_cont(value, 0.5) AS med
             |  FROM events GROUP BY 1),
             |dev AS (SELECT e.event_type, med.med,
             |    abs(e.value - med.med) AS ad
             |  FROM events e JOIN med USING (event_type)),
             |mad AS (SELECT event_type, quantile_cont(ad, 0.5) AS mad
             |  FROM dev GROUP BY 1)
             |SELECT dev.event_type, dev.med, mad.mad,
             |  COUNT(*) AS n,
             |  -- CAST before multiplying: a bare 1.4826 is DECIMAL in
             |  -- DuckDB and 3.0*1.4826 would be exact where Scala's
             |  -- k*1.4826 is an IEEE product — last-ulp divergence
             |  CAST(SUM(CASE WHEN dev.ad >
             |      3.0 * CAST(1.4826 AS DOUBLE) * mad.mad
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
             |FROM dev JOIN mad USING (event_type)
             |GROUP BY 1, 2, 3""".stripMargin)),

    // ---- Lexical-diversity quality signals (Quality
    // .lexicalDiversity): type/token ratio, hapax share, and word
    // entropy — the vocabulary-richness family (template/spam pages
    // reuse a tiny vocabulary). Spark computes ZERO-SHUFFLE by
    // sorting each row's own token array and run-length folding it
    // (the t51 pattern, token total bound in the fold's initial
    // accumulator); the oracle takes the completely different
    // explode → GROUP BY (doc, token) route — same numbers. Ratios
    // are exact integer divisions; entropy sums floor(term·1e12)
    // BIGINTs (each term is a pure function of the integer pair
    // (count, N) → bit-identical ln both sides, t31/t50 precedent),
    // so the cross-engine match is EXACT, not order-lucky.
    QueryDef(
      "t122_lexical_diversity",
      (s, dir) => graft.operators.Quality.lexicalDiversity(
        spread(s, docs(s, dir)), "doc_id", "text"),
      Some("""WITH tk AS (SELECT doc_id,
             |    unnest(list_filter(string_split(text, ' '),
             |      x -> len(x) > 0)) AS w
             |  FROM documents),
             |c AS (SELECT doc_id, w, COUNT(*) AS c
             |  FROM tk GROUP BY 1, 2),
             |n AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n
             |  FROM c GROUP BY 1),
             |agg AS (SELECT c.doc_id,
             |    CAST(COUNT(*) AS BIGINT) AS types,
             |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS hapax,
             |    CAST(SUM(CAST(floor(-(CAST(c AS DOUBLE) / n.n)
             |      * ln(CAST(c AS DOUBLE) / n.n) * 1e12)
             |      AS BIGINT)) AS BIGINT) AS ent
             |  FROM c JOIN n USING (doc_id) GROUP BY 1)
             |SELECT d.doc_id,
             |  COALESCE(n.n, 0) AS n_tokens,
             |  COALESCE(agg.types, 0) AS n_types,
             |  COALESCE(agg.hapax, 0) AS n_hapax,
             |  CASE WHEN COALESCE(n.n, 0) > 0
             |    THEN round(CAST(agg.types AS DOUBLE) / n.n, 6)
             |    ELSE 0.0 END AS ttr,
             |  CASE WHEN COALESCE(agg.types, 0) > 0
             |    THEN round(CAST(agg.hapax AS DOUBLE) / agg.types, 6)
             |    ELSE 0.0 END AS hapax_share,
             |  round(CAST(COALESCE(agg.ent, 0) AS DOUBLE) / 1e12, 6)
             |    AS word_entropy
             |FROM documents d
             |LEFT JOIN n ON n.doc_id = d.doc_id
             |LEFT JOIN agg ON agg.doc_id = d.doc_id""".stripMargin)),

    // ---- G.711 A-LAW decode under the oracle (t74's E1-world
    // sibling, WAV format tag 6): same construction — encoded byte
    // i = ord(char) + 128·(i%2) — but expanded through the A-law
    // curve (XOR 0x55 toggle, segment shift, INVERTED sign
    // convention vs μ-law), which the oracle replays as pure integer
    // arithmetic. Same exact-binary-fraction RMS/ZCR contract as
    // t64/t74; doc slice %3=1 so t74 (%3=0) and this gate cover
    // different rows.
    QueryDef(
      "t123_alaw_audio",
      (s, dir) => {
        import s.implicits._
        import graft.multimodal.{Multimodal => mm}
        val media = spread(s, docs(s, dir))
          .filter(octet_length(col("text")) === length(col("text")) &&
            length(col("text")) >= 8 && col("doc_id") % 3 === 1)
          .select(col("doc_id"), col("text")).as[(Long, String)]
          .mapPartitions { it =>
            it.map { case (id, text) =>
              val bytes = text.getBytes("US-ASCII")
              val enc = Array.tabulate(bytes.length)(i =>
                ((bytes(i) & 0xff) + (i % 2) * 128).toByte)
              mm.MediaRecord(id, "audio", "audio/basic", 0, 0,
                bytes.length * 1000L / 8000L,
                mm.wavG711(enc, 8000, aLaw = true))
            }
          }
        mm.decodeAudioSamples(media).toDF()
          .select(col("media_id").as("doc_id"),
            explode(graft.functions.AudioOps.windowFeatures("samples", 4))
              .as("f"))
          .select(col("doc_id"), col("f.window").as("window"),
            col("f.n").as("n"), col("f.rms").as("rms"),
            col("f.zcr").as("zcr"))
      },
      Some {
        s"""WITH a AS (
           |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
           |  FROM documents
           |  WHERE octet_length(encode(text)) = length(text)
           |    AND length(text) >= 8 AND doc_id % 3 = 1),
           |sm AS (SELECT doc_id, n, unnest(range(n)) AS i, text FROM a),
           |u AS (SELECT doc_id, n, i,
           |    xor(ord(substr(text, CAST(i + 1 AS INT), 1))
           |      + 128 * (i % 2), 85) AS av,
           |    CAST(i * 4 // n AS INT) AS w
           |  FROM sm),
           |k AS (SELECT doc_id, i, w,
           |    CAST(CASE WHEN av >= 128 THEN 1 ELSE -1 END *
           |      CASE WHEN (av // 16) % 8 = 0
           |        THEN (av % 16) * 16 + 8
           |        ELSE ((av % 16) * 16 + 264)
           |          * (1 << ((av // 16) % 8 - 1)) END
           |      AS BIGINT) AS kv
           |  FROM u),
           |p AS (SELECT doc_id, w, kv,
           |    lag(kv) OVER (PARTITION BY doc_id ORDER BY i) AS pk,
           |    lag(w) OVER (PARTITION BY doc_id ORDER BY i) AS pw
           |  FROM k),
           |agg AS (SELECT doc_id, w, COUNT(*) AS n_w,
           |    CAST(SUM(kv * kv) AS BIGINT) AS k2,
           |    CAST(COALESCE(SUM(CASE WHEN pw = w AND pk * kv < 0
           |      THEN 1 ELSE 0 END), 0) AS INT) AS zcr
           |  FROM p GROUP BY doc_id, w)
           |SELECT doc_id, w AS window, CAST(n_w AS INT) AS n,
           |  sqrt(CAST(k2 AS DOUBLE) / 1073741824.0 / CAST(n_w AS DOUBLE))
           |    AS rms,
           |  zcr
           |FROM agg""".stripMargin
      }),

    // ---- Mergeable quantile ASSET (Sketches.histogramSketch/Merge/
    // Quantile) — the HDR-histogram production shape and the quantile
    // sibling of the HLL distinct asset (t117 family): integer counts
    // per FIXED bin edge merge exactly across any corpus split. The
    // gate builds per-(event_type, event-id-parity) sketches, merges
    // the halves, and estimates p25/p50/p95 by in-bin interpolation —
    // DuckDB rederives counts from scratch (proving merge ≡ one-pass
    // build) and replays the closed-form interpolation bit-for-bit,
    // which GK/KLL opaque state can never offer. Scale: ≤ bins cells
    // per group move, the corpus never shuffles.
    QueryDef(
      "t124_histogram_quantile",
      (s, dir) => {
        val sk = graft.operators.Sketches.histogramSketch(
          spread(s, Tables(s, dir, "events"))
            .withColumn("half", pmod(col("event_id"), lit(2))),
          Seq("event_type", "half"), "value", HistEdges)
        val merged = graft.operators.Sketches.histogramMerge(
          sk.drop("half"), Seq("event_type"))
        graft.operators.Sketches.histogramQuantile(
          merged, Seq("event_type"), HistEdges, Seq(0.25, 0.5, 0.95))
      },
      Some {
        val binSql = HistEdges.map(e =>
          s"(CASE WHEN value >= $e THEN 1 ELSE 0 END)")
          .mkString(" + ")
        // bare 1.0 literals are DECIMAL in DuckDB — cast each edge so
        // the interpolation arithmetic is IEEE double like Spark's
        val edgeList = HistEdges.map(e => s"CAST($e AS DOUBLE)")
          .mkString("[", ", ", "]")
        val ne = HistEdges.size
        val lo = s"($edgeList)[LEAST(GREATEST(bin, 1), $ne)]"
        val hi = s"($edgeList)[LEAST(GREATEST(bin + 1, 1), $ne)]"
        s"""WITH b AS (SELECT event_type, $binSql AS bin FROM events),
           |sk AS (SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS n
           |  FROM b GROUP BY 1, 2),
           |c AS (SELECT event_type, bin, n,
           |    CAST(SUM(n) OVER (PARTITION BY event_type
           |      ORDER BY bin) AS BIGINT) AS cum,
           |    CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT)
           |      AS nn
           |  FROM sk),
           |x AS (SELECT event_type, p, bin, n, cum,
           |    p * CAST(nn AS DOUBLE) AS t
           |  FROM c, (SELECT unnest([CAST(0.25 AS DOUBLE),
           |    CAST(0.5 AS DOUBLE), CAST(0.95 AS DOUBLE)]) AS p))
           |SELECT event_type, p,
           |  CASE WHEN bin = 0 OR bin = $ne THEN $lo
           |    ELSE $lo + (t - CAST(cum - n AS DOUBLE))
           |      / CAST(n AS DOUBLE) * ($hi - $lo) END AS q
           |FROM x
           |WHERE CAST(cum AS DOUBLE) >= t
           |  AND CAST(cum - n AS DOUBLE) < t""".stripMargin
      }),

    // Hot-gram-capped containment (t100 under the maxDf guard): every
    // doc gets a 3-token boilerplate prefix, planting one universal
    // shingle (df = all docs — the degenerate gram whose df² join
    // amplification the guard exists to cap). With maxDf = 50 that
    // gram leaves the join; excerpt→source containment drops from
    // 12/12 to the LOWER BOUND 11/12 ≈ 0.9167 (full n_a, capped
    // numerator) and stays above tau 0.9, so the genuine relations
    // all survive while boilerplate co-occurrence contributes zero
    // rows. Oracle replays the df computation, the exclusion, and
    // the full-size denominators.
    QueryDef(
      "t125_containment_capped",
      (s, dir) => {
        val d = spread(s, docs(s, dir))
          .select(col("doc_id"),
            concat(lit("cx cy cz "), col("text")).as("text"))
        val ex = d.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 100000).as("doc_id"),
            array_join(slice(split(col("text"), " "), 1, 14), " ")
              .as("text"))
        graft.operators.NearDup.containmentPairs(
          d.unionByName(ex), "doc_id", "text", tau = 0.9, maxDf = 50)
      },
      Some(
        s"""WITH u AS (
           |  SELECT doc_id, 'cx cy cz ' || text AS text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 100000 AS doc_id,
           |    array_to_string(list_slice(
           |      string_split('cx cy cz ' || text, ' '), 1, 14),
           |      ' ') AS text
           |  FROM documents WHERE doc_id % 10 = 0),
           |t AS (SELECT doc_id,
           |    ${DuckSql.shingles3("string_split(text, ' ')")} AS sh
           |  FROM u),
           |sz AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n FROM t
           |  WHERE len(sh) > 0),
           |g AS (SELECT doc_id, unnest(sh) AS gr FROM t),
           |hot AS (SELECT gr FROM g GROUP BY gr HAVING COUNT(*) > 50),
           |gk AS (SELECT doc_id, gr FROM g
           |  WHERE gr NOT IN (SELECT gr FROM hot)),
           |i AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
           |    COUNT(*) AS n_inter
           |  FROM gk a JOIN gk b ON a.gr = b.gr AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2)
           |SELECT i.ida AS id_a, i.idb AS id_b, i.n_inter,
           |  sa.n AS n_a, sb.n AS n_b,
           |  round(CAST(i.n_inter AS DOUBLE) / sa.n, 6) AS cont_a,
           |  round(CAST(i.n_inter AS DOUBLE) / sb.n, 6) AS cont_b
           |FROM i JOIN sz sa ON sa.doc_id = i.ida
           |  JOIN sz sb ON sb.doc_id = i.idb
           |WHERE round(CAST(i.n_inter AS DOUBLE) / sa.n, 6) >= 0.9
           |   OR round(CAST(i.n_inter AS DOUBLE) / sb.n, 6) >= 0.9"""
          .stripMargin)),

    // IVF-PQ search with an EXACT re-rank tail (t34 + refinement):
    // ADC scores carry PQ quantization error, so production search
    // retrieves k·refine candidates by ADC and re-scores just those
    // against the raw vectors — recall recovery at the cost of one
    // broadcast candidate join (AnnRecallSpec measures the recall
    // delta on adversarial vectors). The oracle extends t34's chain:
    // same trainings, same ADC candidate ranking to rn <= k·refine,
    // then exact per-dim distances (d2Exact replays the sequential
    // fold) and the final exact top-k order.
    QueryDef(
      "t126_ivfpq_search_refined",
      (s, dir) => {
        val ann = graft.operators.Ann
        // r12: scanned repeatedly by training + encode + search —
        // persist once (see t69's note)
        val e = graft.CacheRegistry.track(
          spread(s, Tables(s, dir, "embeddings"))
            .select(col("vec_id"),
              VectorOps.asDouble(col("embedding")).as("v"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val cents = ann.trainCentroids(e, "vec_id", "v",
          nlist = 8, iters = 2)
        val books = ann.trainPq(e, "vec_id", "v",
          PqM, PqDsub, PqKsub, PqIters)
        val index = ann.ivfPqIndex(e, "vec_id", "v",
          cents, "cent_id", "cv", books, PqM, PqDsub)
        val probes = Tables(s, dir, "embeddings")
          .filter(col("vec_id") < 5)
          .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("v"))
        ann.ivfPqSearchRefined(index, e, probes, "vec_id", "v",
          cents, "cent_id", "cv", books, PqM, PqDsub,
          k = 3, nprobe = 2, refine = 2)
      },
      Some {
        val pdSum = (0 until PqM).map(i => s"pd$i").mkString(" + ")
        val pivotPd = (0 until PqM)
          .map(i => s"MAX(CASE WHEN e.sub = $i THEN l.pd END) AS pd$i")
          .mkString(", ")
        s"""WITH ${lloydSql(8, 2)},
           |${pqLloydSql(PqM, PqDsub, PqKsub, PqIters)},
           |cents AS (SELECT * FROM c2),
           |cells AS (SELECT c_id, cell FROM (
           |  SELECT e.vec_id AS c_id, c.cent_id AS cell,
           |    row_number() OVER (PARTITION BY e.vec_id
           |      ORDER BY ${d2Trained("e", "c")} ASC, c.cent_id ASC) AS rn
           |  FROM embeddings e, cents c) WHERE rn = 1),
           |pcells AS (SELECT p_id, cell FROM (
           |  SELECT p.vec_id AS p_id, c.cent_id AS cell,
           |    row_number() OVER (PARTITION BY p.vec_id
           |      ORDER BY ${d2Trained("p", "c")} ASC, c.cent_id ASC) AS rn
           |  FROM (SELECT * FROM embeddings WHERE vec_id < 5) p, cents c)
           |  WHERE rn <= 2),
           |enc AS (SELECT vec_id, sub, code FROM (
           |  SELECT e.vec_id, c.sub, c.code,
           |    row_number() OVER (PARTITION BY e.vec_id, c.sub
           |      ORDER BY ${pqD2Sql("e", "c", PqDsub)} ASC, c.code ASC) AS rn
           |  FROM embeddings e, b$PqIters c) WHERE rn = 1),
           |lut AS (SELECT p.vec_id AS p_id, c.sub, c.code,
           |    ${pqD2Sql("p", "c", PqDsub)} AS pd
           |  FROM (SELECT * FROM embeddings WHERE vec_id < 5) p,
           |       b$PqIters c),
           |j AS (SELECT l.p_id, e.vec_id AS c_id, $pivotPd
           |  FROM enc e
           |  JOIN cells cl ON cl.c_id = e.vec_id
           |  JOIN pcells pc ON pc.cell = cl.cell
           |  JOIN lut l ON l.sub = e.sub AND l.code = e.code
           |    AND l.p_id = pc.p_id
           |  WHERE e.vec_id <> pc.p_id GROUP BY l.p_id, e.vec_id),
           |scored AS (SELECT p_id, c_id, round($pdSum, 6) AS ad2 FROM j),
           |cand AS (SELECT p_id, c_id FROM (
           |  SELECT *, row_number() OVER (PARTITION BY p_id
           |    ORDER BY ad2 ASC, c_id ASC) AS rn FROM scored)
           |  WHERE rn <= 6),
           |ex AS (SELECT cand.p_id, cand.c_id,
           |    round(${d2Exact("p", "e")}, 6) AS d2
           |  FROM cand
           |  JOIN embeddings e ON e.vec_id = cand.c_id
           |  JOIN embeddings p ON p.vec_id = cand.p_id)
           |SELECT p_id, rn, c_id, d2 FROM (
           |  SELECT *, row_number() OVER (PARTITION BY p_id
           |    ORDER BY d2 ASC, c_id ASC) AS rn FROM ex)
           |WHERE rn <= 3""".stripMargin
      }),

    // MPEG audio FRAME layer under the oracle — the compressed-audio
    // metadata walk curation runs at scale (duration, bitrate,
    // CBR/VBR, padding accounting; PCM synthesis is deliberately out
    // of scope, see multimodal/Mp3.scala). Each doc becomes a real
    // MPEG-1 Layer III stream: CBR for even ids, frame-varying VBR
    // for odd, per-frame padding rhythm, an ID3v2 prefix on every
    // 5th id — built by header arithmetic and re-parsed by the real
    // sync walker. The oracle rederives every output column from the
    // same closed-form integer formulas (bitrate table lookup,
    // 144000·br/rate floor size, padding count, sample-exact
    // duration), so hash-equality pins the whole parse layer.
    QueryDef(
      "t127_mp3_frames",
      (s, dir) => {
        import s.implicits._
        import graft.multimodal.Mp3
        spread(s, docs(s, dir))
          .filter(octet_length(col("text")) === length(col("text")) &&
            length(col("text")) >= 4)
          .select(col("doc_id"), length(col("text")).as("len"))
          .as[(Long, Int)]
          .mapPartitions { it =>
            it.map { case (id, len) =>
              val n = 1 + (len % 7)
              val srIdx = (id % 3).toInt
              val cbr = id % 2 == 0
              val brIdxOf: Int => Int = i =>
                if (cbr) (1 + (id % 14)).toInt
                else (1 + ((id + i) % 14)).toInt
              val padOf: Int => Boolean = i => (id + i) % 2 == 1
              val body = Mp3.buildStream(3, srIdx, n, mono = true,
                brIdxOf, padOf)
              val payload = if (id % 5 == 0) {
                // ID3v2 prefix (skipped by the walker): 10-byte
                // header + len%50 syncsafe-sized junk
                val extra = len % 50
                val tag = new Array[Byte](10 + extra)
                tag(0) = 'I'; tag(1) = 'D'; tag(2) = '3'; tag(3) = 4
                tag(6) = ((extra >> 21) & 0x7f).toByte
                tag(7) = ((extra >> 14) & 0x7f).toByte
                tag(8) = ((extra >> 7) & 0x7f).toByte
                tag(9) = (extra & 0x7f).toByte
                tag ++ body
              } else body
              val info = Mp3.streamInfo(payload).get
              (id, info.nFrames, info.sampleRate, info.cbr,
                info.bitrateKbps, info.nPadded, info.durationMs,
                info.bytesParsed)
            }
          }
          .toDF("doc_id", "n_frames", "sample_rate", "cbr",
            "bitrate_kbps", "n_padded", "duration_ms", "bytes_parsed")
      },
      Some {
        val brList = "[32,40,48,56,64,80,96,112,128,160,192,224,256,320]"
        val srList = "[44100,48000,32000]"
        s"""WITH a AS (
           |  SELECT doc_id, CAST(length(text) AS BIGINT) AS len
           |  FROM documents
           |  WHERE octet_length(encode(text)) = length(text)
           |    AND length(text) >= 4),
           |f AS (SELECT doc_id, 1 + (len % 7) AS n, doc_id % 3 AS sr_idx,
           |    unnest(range(1 + (len % 7))) AS i
           |  FROM a),
           |per AS (SELECT doc_id, n, sr_idx,
           |    ($brList)[CAST(CASE WHEN doc_id % 2 = 0
           |      THEN 1 + (doc_id % 14)
           |      ELSE 1 + ((doc_id + i) % 14) END AS INT)] AS br,
           |    CASE WHEN (doc_id + i) % 2 = 1 THEN 1 ELSE 0 END AS pad
           |  FROM f),
           |agg AS (SELECT doc_id, ANY_VALUE(n) AS n,
           |    ANY_VALUE(sr_idx) AS sr_idx,
           |    SUM(CAST(br AS BIGINT)) AS brsum,
           |    COUNT(DISTINCT br) AS n_brs,
           |    SUM(pad) AS n_padded,
           |    SUM(144000 * CAST(br AS BIGINT)
           |      // ($srList)[CAST(sr_idx + 1 AS INT)] + pad)
           |      AS bytes_parsed
           |  FROM per GROUP BY doc_id)
           |SELECT doc_id, CAST(n AS INT) AS n_frames,
           |  CAST(($srList)[CAST(sr_idx + 1 AS INT)] AS INT)
           |    AS sample_rate,
           |  n_brs = 1 AS cbr,
           |  CAST(brsum // n AS INT) AS bitrate_kbps,
           |  CAST(n_padded AS INT) AS n_padded,
           |  CAST(n * 1152 * 1000
           |    // ($srList)[CAST(sr_idx + 1 AS INT)] AS BIGINT)
           |    AS duration_ms,
           |  CAST(bytes_parsed AS BIGINT) AS bytes_parsed
           |FROM agg""".stripMargin
      }),

    // Xing/Info VBR header under the oracle — the O(1) metadata path
    // (t127's successor): duration/bitrate answered from the HEAD
    // frame's tag instead of a full-stream walk, the read-4KB-not-
    // 4GB pattern that matters at 100 TB object counts. Each doc gets
    // a tag frame (Xing for odd ids = VBR, Info for even = CBR)
    // prepended to its audio frames; quickInfo reads only the tag,
    // the full walk cross-checks it (and sees the tag frame as one
    // extra frame — both counts emitted). Oracle rederives every
    // column from the construction arithmetic: per-frame sizes, tag
    // frame size, floor-division duration and tag-derived kbps.
    QueryDef(
      "t128_mp3_xing",
      (s, dir) => {
        import s.implicits._
        import graft.multimodal.Mp3
        spread(s, docs(s, dir))
          .filter(octet_length(col("text")) === length(col("text")) &&
            length(col("text")) >= 4)
          .select(col("doc_id"), length(col("text")).as("len"))
          .as[(Long, Int)]
          .mapPartitions { it =>
            it.map { case (id, len) =>
              val n = 1 + (len % 9)
              val srIdx = (id % 3).toInt
              val vbr = id % 2 == 1
              val brIdxOf: Int => Int = i =>
                if (vbr) (1 + ((id + i) % 14)).toInt
                else (1 + (id % 14)).toInt
              val padOf: Int => Boolean = i => (id + i) % 2 == 1
              val payload = Mp3.buildXingStream(3, srIdx, n,
                mono = true, brIdxOf, padOf, vbr = vbr)
              val q = Mp3.quickInfo(payload).get
              val walk = Mp3.streamInfo(payload).get
              (id, q.nFrames, !q.cbr, q.durationMs, q.bitrateKbps,
                walk.nFrames, walk.bytesParsed)
            }
          }
          .toDF("doc_id", "q_frames", "vbr", "duration_ms", "kbps",
            "walk_frames", "walk_bytes")
      },
      Some {
        val brList = "[32,40,48,56,64,80,96,112,128,160,192,224,256,320]"
        val srList = "[44100,48000,32000]"
        s"""WITH a AS (
           |  SELECT doc_id, CAST(length(text) AS BIGINT) AS len
           |  FROM documents
           |  WHERE octet_length(encode(text)) = length(text)
           |    AND length(text) >= 4),
           |f AS (SELECT doc_id, 1 + (len % 9) AS n, doc_id % 3 AS sr_idx,
           |    unnest(range(1 + (len % 9))) AS i
           |  FROM a),
           |per AS (SELECT doc_id, n, sr_idx,
           |    ($brList)[CAST(CASE WHEN doc_id % 2 = 1
           |      THEN 1 + ((doc_id + i) % 14)
           |      ELSE 1 + (doc_id % 14) END AS INT)] AS br,
           |    CASE WHEN (doc_id + i) % 2 = 1 THEN 1 ELSE 0 END AS pad
           |  FROM f),
           |agg AS (SELECT doc_id, ANY_VALUE(n) AS n,
           |    ANY_VALUE(sr_idx) AS sr_idx,
           |    SUM(144000 * CAST(br AS BIGINT)
           |      // ($srList)[CAST(sr_idx + 1 AS INT)] + pad)
           |      AS audio_bytes
           |  FROM per GROUP BY doc_id),
           |-- the tag frame reuses frame 0's bitrate (brIdxOf(0) is
           |-- 1 + doc_id%14 in BOTH the VBR and CBR modes), no padding
           |tagf AS (SELECT doc_id, n, sr_idx, audio_bytes,
           |    144000 * CAST(($brList)[CAST(1 + (doc_id % 14) AS INT)]
           |        AS BIGINT)
           |      // ($srList)[CAST(sr_idx + 1 AS INT)] AS tag_bytes
           |  FROM agg),
           |d AS (SELECT doc_id, n, sr_idx, audio_bytes, tag_bytes,
           |    n * 1152 * 1000 // ($srList)[CAST(sr_idx + 1 AS INT)]
           |      AS dur_ms
           |  FROM tagf)
           |SELECT doc_id, CAST(n AS INT) AS q_frames,
           |  doc_id % 2 = 1 AS vbr,
           |  CAST(dur_ms AS BIGINT) AS duration_ms,
           |  CAST(audio_bytes * 8 // dur_ms AS INT) AS kbps,
           |  CAST(n + 1 AS INT) AS walk_frames,
           |  CAST(tag_bytes + audio_bytes AS BIGINT) AS walk_bytes
           |FROM d""".stripMargin
      }),

    // The (gram, df) SIDE-ASSET path of incremental containment
    // (t103's daily-append shape under t125's hot-gram guard, via the
    // PRODUCTION cap): history is every doc behind a universal
    // 3-token boilerplate prefix (one gram at df = corpus size), and
    // the history-side cap consults the maintained (gram, df) asset
    // instead of re-aggregating the ever-growing gram index — one
    // index scan per batch, not two (plan spec-asserted in
    // NearDupSpec). The batch carries (a) 14-token excerpts of every
    // 10th shipped doc — the boilerplate gram leaves the join, the
    // other 11 of 12 shingles ride through, lower-bound containment
    // 11/12 ≈ 0.9167 ≥ 0.9, drop vs history; (b) 'zx zy zz'-prefixed
    // REVERSED docs of every 7th — shingle-disjoint from history,
    // stay, and their shared prefix gram (df = 2·|fresh| > maxDf)
    // goes hot WITHIN the batch, so the in-batch cap fires too;
    // (c) excerpts of those fresh docs — drop in-batch against their
    // strictly-larger sources through non-hot grams only. The oracle
    // replays both capped joins with dfs computed on each side.
    QueryDef(
      "t129_containment_df_asset",
      (s, dir) => {
        import graft.operators.NearDup
        val base = spread(s, docs(s, dir))
          .select(col("doc_id"), col("text"))
        val hist = base.select(col("doc_id"),
          concat(lit("cx cy cz "), col("text")).as("text"))
        val e1 = hist.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 100000).as("doc_id"),
            array_join(slice(split(col("text"), " "), 1, 14), " ")
              .as("text"))
        val f = base.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 200000).as("doc_id"),
            concat(lit("zx zy zz "),
              array_join(reverse(split(col("text"), " ")), " "))
              .as("text"))
        val fe = f.select((col("doc_id") + 200000).as("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 14), " ")
            .as("text"))
        val incoming = e1.unionByName(f).unionByName(fe)
        // r12: the gate derives BOTH assets inline (production reads
        // them from disk) — without a persist the history corpus is
        // tokenized+shingled twice, once under the index reference and
        // once under the df-asset aggregate. Persist the index once;
        // released by Bench/Verify between queries.
        val idx = graft.CacheRegistry.track(
          NearDup.containmentGramIndex(hist, "doc_id", "text")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val dfAsset = NearDup.containmentGramDf(idx)
        val (surv, _, _) = NearDup.dedupByContainmentIncrementalWithDf(
          incoming, "doc_id", "text", idx, dfAsset,
          tau = 0.9, maxDf = 50)
        surv.select(col("doc_id"))
      },
      Some(
        s"""WITH hist AS (
           |  SELECT doc_id, 'cx cy cz ' || text AS text FROM documents),
           |inc AS (
           |  SELECT doc_id + 100000 AS doc_id, array_to_string(
           |      list_slice(string_split('cx cy cz ' || text, ' '),
           |        1, 14), ' ') AS text
           |    FROM documents WHERE doc_id % 10 = 0
           |  UNION ALL
           |  SELECT doc_id + 200000, 'zx zy zz ' || array_to_string(
           |      list_reverse(string_split(text, ' ')), ' ')
           |    FROM documents WHERE doc_id % 7 = 0
           |  UNION ALL
           |  SELECT doc_id + 400000, array_to_string(list_slice(
           |      string_split('zx zy zz ' || array_to_string(
           |        list_reverse(string_split(text, ' ')), ' '), ' '),
           |      1, 14), ' ')
           |    FROM documents WHERE doc_id % 7 = 0),
           |ti AS (SELECT doc_id,
           |    ${DuckSql.shingles3("string_split(text, ' ')")} AS sh
           |  FROM inc),
           |th AS (SELECT doc_id,
           |    ${DuckSql.shingles3("string_split(text, ' ')")} AS sh
           |  FROM hist),
           |gi AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n,
           |    unnest(sh) AS gr FROM ti WHERE len(sh) > 0),
           |gh AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n,
           |    unnest(sh) AS gr FROM th WHERE len(sh) > 0),
           |hoth AS (SELECT gr FROM gh GROUP BY gr HAVING COUNT(*) > 50),
           |hotb AS (SELECT gr FROM gi GROUP BY gr HAVING COUNT(*) > 50),
           |ghk AS (SELECT * FROM gh
           |  WHERE gr NOT IN (SELECT gr FROM hoth)),
           |gik AS (SELECT * FROM gi
           |  WHERE gr NOT IN (SELECT gr FROM hotb)),
           |histdrop AS (SELECT DISTINCT inid FROM (
           |  SELECT a.doc_id AS inid, a.n AS inn, h.doc_id AS exid,
           |      h.n AS exn, COUNT(*) AS ninter
           |    FROM gik a JOIN ghk h ON a.gr = h.gr
           |    GROUP BY 1, 2, 3, 4)
           |  WHERE round(CAST(ninter AS DOUBLE) / inn, 6) >= 0.9
           |    AND inn <= exn),
           |after AS (SELECT * FROM inc
           |  WHERE doc_id NOT IN (SELECT inid FROM histdrop)),
           |ga AS (SELECT gi.doc_id, gi.n, gi.gr FROM gi
           |  JOIN after ON after.doc_id = gi.doc_id),
           |hota AS (SELECT gr FROM ga GROUP BY gr HAVING COUNT(*) > 50),
           |gak AS (SELECT * FROM ga
           |  WHERE gr NOT IN (SELECT gr FROM hota)),
           |i AS (SELECT a.doc_id AS ida, a.n AS na, b.doc_id AS idb,
           |    b.n AS nb, COUNT(*) AS n_inter
           |  FROM gak a JOIN gak b ON a.gr = b.gr
           |    AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2, 3, 4),
           |p AS (SELECT ida, idb, na, nb,
           |    round(CAST(n_inter AS DOUBLE) / na, 6) AS ca,
           |    round(CAST(n_inter AS DOUBLE) / nb, 6) AS cb FROM i),
           |dr AS (SELECT DISTINCT CASE
           |    WHEN ca >= 0.9 AND na < nb THEN ida
           |    WHEN cb >= 0.9 AND nb < na THEN idb
           |    WHEN na = nb AND ca >= 0.9 THEN idb END AS doc_id
           |  FROM p WHERE ca >= 0.9 OR cb >= 0.9)
           |SELECT doc_id FROM after
           |WHERE doc_id NOT IN (SELECT doc_id FROM dr
           |  WHERE doc_id IS NOT NULL)""".stripMargin)),

    // ID3v2 TEXT-frame extraction (t128's successor — the other O(1)
    // per-object metadata curation reads: title/artist/album dedup
    // keys + a TXXX source-attribution pair, all inside the tag the
    // frame walker skips). Each doc synthesizes a deterministic tag —
    // v2.4 (syncsafe frame sizes) for odd ids, v2.3 (BE-32) for even,
    // trailing padding varying by id — and the extractor's frame ids,
    // byte offsets, descriptions and decoded texts are emitted. The
    // oracle rederives every offset from the construction arithmetic:
    // tag header 10 bytes, text frame stride 10 + 1 + len(text),
    // TXXX payload 1 + len(desc) + 1 + len(value).
    QueryDef(
      "t130_id3v2_text",
      (s, dir) => {
        import s.implicits._
        import graft.multimodal.Mp3
        spread(s, docs(s, dir)).select(col("doc_id")).as[Long]
          .flatMap { id =>
            val ver = if (id % 2 == 1) 4 else 3
            val title = s"T$id"
            val artist = s"A${id % 7}"
            val album = s"AL${id % 13}"
            val tag = Mp3.buildId3v2(ver,
              Seq("TIT2" -> title, "TPE1" -> artist, "TALB" -> album),
              Seq("src" -> s"d$id"), padding = (id % 5).toInt)
            Mp3.id3TextFrames(tag).zipWithIndex.map { case (f, i) =>
              (id, i, f.frameId, f.offset.toLong, f.description, f.text)
            }
          }
          .toDF("doc_id", "seq", "frame_id", "off", "descr", "txt")
      },
      Some(
        """WITH base AS (SELECT doc_id,
          |    'T' || CAST(doc_id AS VARCHAR) AS t,
          |    'A' || CAST(doc_id % 7 AS VARCHAR) AS a,
          |    'AL' || CAST(doc_id % 13 AS VARCHAR) AS al,
          |    'd' || CAST(doc_id AS VARCHAR) AS v
          |  FROM documents),
          |o AS (SELECT doc_id, t, a, al, v,
          |    CAST(10 AS BIGINT) AS o1,
          |    CAST(10 + 11 + len(t) AS BIGINT) AS o2,
          |    CAST(10 + 11 + len(t) + 11 + len(a) AS BIGINT) AS o3,
          |    CAST(10 + 11 + len(t) + 11 + len(a) + 11 + len(al)
          |      AS BIGINT) AS o4
          |  FROM base)
          |SELECT doc_id, CAST(0 AS INT) AS seq, 'TIT2' AS frame_id,
          |  o1 AS off, '' AS descr, t AS txt FROM o
          |UNION ALL
          |SELECT doc_id, CAST(1 AS INT), 'TPE1', o2, '', a FROM o
          |UNION ALL
          |SELECT doc_id, CAST(2 AS INT), 'TALB', o3, '', al FROM o
          |UNION ALL
          |SELECT doc_id, CAST(3 AS INT), 'TXXX', o4, 'src', v FROM o"""
          .stripMargin)),

    // VORBIS_COMMENT extraction (t130's lossless-family sibling): the
    // FLAC metadata block carrying TITLE/ARTIST/... fields, read O(1)
    // before any audio frame. Each doc encodes a real 16-sample FLAC
    // stream, splices a deterministic comment block after STREAMINFO
    // (last-metadata flag moves to it), and the extractor's field
    // names, byte offsets and values are emitted. The oracle
    // rederives every offset from the block arithmetic: magic 4 +
    // STREAMINFO (4 + 34) + block header 4 + LE vendor (4 + 9) +
    // count 4 = 63 for the first length prefix, then stride
    // 4 + len("FIELD=value") per field.
    QueryDef(
      "t131_vorbis_comment",
      (s, dir) => {
        import s.implicits._
        import graft.multimodal.Flac
        spread(s, docs(s, dir)).select(col("doc_id")).as[Long]
          .flatMap { id =>
            val samples = Array.tabulate(16)(i =>
              (((id * 7 + i * 13) % 251) - 125).toShort)
            val base = Flac.encode(samples, 8000, blockSize = 16)
            val tagged = Flac.withVorbisComments(base, "graft r10",
              Seq("TITLE" -> s"T$id", "ARTIST" -> s"A${id % 7}",
                "SRC" -> s"d$id"))
            val vc = Flac.vorbisComments(tagged).get
            vc.fields.zipWithIndex.map { case (f, i) =>
              (id, i, f.field, f.offset.toLong, f.value)
            }
          }
          .toDF("doc_id", "seq", "field", "off", "fval")
      },
      Some(
        """WITH b AS (SELECT doc_id,
          |    'T' || CAST(doc_id AS VARCHAR) AS t,
          |    'A' || CAST(doc_id % 7 AS VARCHAR) AS a,
          |    'd' || CAST(doc_id AS VARCHAR) AS v
          |  FROM documents),
          |o AS (SELECT doc_id, t, a, v,
          |    CAST(63 AS BIGINT) AS o1,
          |    CAST(63 + 4 + 6 + len(t) AS BIGINT) AS o2,
          |    CAST(63 + 4 + 6 + len(t) + 4 + 7 + len(a) AS BIGINT)
          |      AS o3
          |  FROM b)
          |SELECT doc_id, CAST(0 AS INT) AS seq, 'TITLE' AS field,
          |  o1 AS off, t AS fval FROM o
          |UNION ALL
          |SELECT doc_id, CAST(1 AS INT), 'ARTIST', o2, a FROM o
          |UNION ALL
          |SELECT doc_id, CAST(2 AS INT), 'SRC', o3, v FROM o"""
          .stripMargin)),

    // RIFF LIST/INFO extraction (the WAV third of the t130/t131
    // metadata trio): each doc writes a real 16-sample PCM WAV (44
    // header + 32 data = 76 bytes), appends a LIST/INFO chunk with
    // deterministic INAM/IART/ICMT tags, and the extractor's
    // fourccs, byte offsets and values are emitted. Oracle offsets:
    // first sub-chunk fourcc at 76 + 12 = 88, then stride
    // 8 + padded(len(value) + 1) with even padding.
    QueryDef(
      "t132_riff_info",
      (s, dir) => {
        import s.implicits._
        import graft.multimodal.Multimodal
        spread(s, docs(s, dir)).select(col("doc_id")).as[Long]
          .flatMap { id =>
            val samples = Array.tabulate(16)(i =>
              (((id * 11 + i * 17) % 397) - 198).toShort)
            val wav = Multimodal.withRiffInfo(
              Multimodal.wavPcm16(samples, 8000),
              Seq("INAM" -> s"T$id", "IART" -> s"A${id % 7}",
                "ICMT" -> s"d$id"))
            Multimodal.riffInfoTags(wav).zipWithIndex.map {
              case (t, i) => (id, i, t.tag, t.offset.toLong, t.value)
            }
          }
          .toDF("doc_id", "seq", "tag", "off", "tval")
      },
      Some(
        """WITH b AS (SELECT doc_id,
          |    'T' || CAST(doc_id AS VARCHAR) AS n,
          |    'A' || CAST(doc_id % 7 AS VARCHAR) AS a,
          |    'd' || CAST(doc_id AS VARCHAR) AS c
          |  FROM documents),
          |p AS (SELECT doc_id, n, a, c,
          |    len(n) + 1 + ((len(n) + 1) % 2) AS pn,
          |    len(a) + 1 + ((len(a) + 1) % 2) AS pa
          |  FROM b),
          |o AS (SELECT doc_id, n, a, c,
          |    CAST(88 AS BIGINT) AS o1,
          |    CAST(88 + 8 + pn AS BIGINT) AS o2,
          |    CAST(88 + 8 + pn + 8 + pa AS BIGINT) AS o3
          |  FROM p)
          |SELECT doc_id, CAST(0 AS INT) AS seq, 'INAM' AS tag,
          |  o1 AS off, n AS tval FROM o
          |UNION ALL
          |SELECT doc_id, CAST(1 AS INT), 'IART', o2, a FROM o
          |UNION ALL
          |SELECT doc_id, CAST(2 AS INT), 'ICMT', o3, c FROM o"""
          .stripMargin)),

    // LEAF-COMPACTION equivalence (Maintenance.compactLeaves, the
    // explicit policy for the streaming builders' per-batch
    // `batch=<id>` asset leaves): the gate writes the containment
    // gram index as THREE batch leaves (history split doc_id % 3),
    // folds all but the newest with compactLeaves (requiring exactly
    // 2 folds — the newest leaf is the stream's replay target and
    // must survive untouched), then runs incremental containment
    // dedup against the COMPACTED dir. The oracle replays the dedup
    // over the full uncompacted history — compaction must be
    // invisible to every consumer (fold concatenates rows verbatim,
    // no aggregation), so survivors hash-match the uncompacted
    // semantics. Incoming reuses t103's first two arms: excerpts of
    // every 10th doc (contained in history → drop) + reversed every
    // 7th (shingle-disjoint → stay, then the in-batch pass replays).
    QueryDef(
      "t133_leaf_compaction",
      (s, dir) => {
        import graft.operators.{Maintenance, NearDup}
        val base = Tables.gatePath(dir, "leafcompact")
        val fsPath = new org.apache.hadoop.fs.Path(base)
        fsPath.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(fsPath, true) // deterministic rebuild per run
        val d = spread(s, docs(s, dir)).select(col("doc_id"), col("text"))
        // three independent batch writes to disjoint leaf dirs —
        // submit concurrently (guide §2.6); compaction below waits on
        // all three
        graft.Par.parN((0 until 3).map(k => () =>
          NearDup.containmentGramIndex(
            d.filter(col("doc_id") % 3 === k), "doc_id", "text")
            .write.mode("overwrite").parquet(s"$base/index/batch=$k")))
        val folded =
          Maintenance.compactLeaves(s, Seq(s"$base/index"))(s"$base/index")
        require(folded == 2, s"expected 2 leaves folded, got $folded")
        val idx = s.read.parquet(s"$base/index")
          .select("doc_id", "gram", "n_grams")
        val revToks = reverse(split(col("text"), " "))
        val e1 = d.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 100000).as("doc_id"),
            array_join(slice(split(col("text"), " "), 1, 14), " ")
              .as("text"))
        val f = d.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 200000).as("doc_id"),
            array_join(revToks, " ").as("text"))
        // Exhaustive opt-in: oracle replays the full gram join (the
        // hot-gram cap's contract is gated by t100/t101).
        val (surv, _) = NearDup.dedupByContainmentIncremental(
          e1.unionByName(f), "doc_id", "text", idx, tau = 0.9,
          maxDf = NearDup.ContainmentExhaustive)
        surv.select(col("doc_id"))
      },
      Some(
        s"""WITH inc AS (
           |  SELECT doc_id + 100000 AS doc_id, array_to_string(
           |      list_slice(string_split(text, ' '), 1, 14), ' ') AS text
           |    FROM documents WHERE doc_id % 10 = 0
           |  UNION ALL
           |  SELECT doc_id + 200000, array_to_string(
           |      list_reverse(string_split(text, ' ')), ' ')
           |    FROM documents WHERE doc_id % 7 = 0),
           |ti AS (SELECT doc_id,
           |    ${DuckSql.shingles3("string_split(text, ' ')")} AS sh
           |  FROM inc),
           |tor AS (SELECT doc_id,
           |    ${DuckSql.shingles3("string_split(text, ' ')")} AS sh
           |  FROM documents),
           |gi AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n,
           |    unnest(sh) AS gr FROM ti WHERE len(sh) > 0),
           |go AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n,
           |    unnest(sh) AS gr FROM tor WHERE len(sh) > 0),
           |histdrop AS (SELECT DISTINCT inid FROM (
           |  SELECT gi.doc_id AS inid, gi.n, go.doc_id AS exid,
           |      go.n AS exn, COUNT(*) AS ninter
           |    FROM gi JOIN go ON gi.gr = go.gr
           |    GROUP BY 1, 2, 3, 4)
           |  WHERE round(CAST(ninter AS DOUBLE) / n, 6) >= 0.9
           |    AND n <= exn),
           |after AS (SELECT * FROM inc
           |  WHERE doc_id NOT IN (SELECT inid FROM histdrop)),
           |ta AS (SELECT doc_id,
           |    ${DuckSql.shingles3("string_split(text, ' ')")} AS sh
           |  FROM after),
           |sza AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n FROM ta
           |  WHERE len(sh) > 0),
           |ga AS (SELECT doc_id, unnest(sh) AS gr FROM ta),
           |ia AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
           |    COUNT(*) AS n_inter
           |  FROM ga a JOIN ga b ON a.gr = b.gr AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2),
           |pa AS (SELECT ia.ida, ia.idb, sa.n AS na, sb.n AS nb,
           |    round(CAST(ia.n_inter AS DOUBLE) / sa.n, 6) AS ca,
           |    round(CAST(ia.n_inter AS DOUBLE) / sb.n, 6) AS cb
           |  FROM ia JOIN sza sa ON sa.doc_id = ia.ida
           |    JOIN sza sb ON sb.doc_id = ia.idb),
           |bd AS (SELECT DISTINCT CASE
           |    WHEN ca >= 0.9 AND na < nb THEN ida
           |    WHEN cb >= 0.9 AND nb < na THEN idb
           |    WHEN na = nb AND ca >= 0.9 THEN idb END AS doc_id
           |  FROM pa WHERE ca >= 0.9 OR cb >= 0.9)
           |SELECT after.doc_id FROM after
           |WHERE after.doc_id NOT IN (SELECT doc_id FROM bd
           |  WHERE doc_id IS NOT NULL)""".stripMargin)),

    // UNIGRAM-LM tokenizer ROUND TRIP (t107's sibling for the second
    // tokenizer family): decode(tokenIds(text)) under the pinned
    // corpus-trained piece table reconstructs the whitespace-stripped
    // concatenation for ASCII docs — the trained table force-keeps
    // every printable-ASCII single, so Viterbi coverage is total and
    // <unk> never fires on these rows.
    QueryDef(
      "t134_unigram_roundtrip",
      (s, dir) => spread(s, docs(s, dir))
        .filter(octet_length(col("text")) === length(col("text")))
        .select(col("doc_id"),
          graft.functions.Unigram.decode(
            graft.functions.Unigram.tokenIds(col("text"),
              graft.functions.Unigram.GatePieces),
            graft.functions.Unigram.GatePieces).as("decoded")),
      Some(
        """SELECT doc_id, array_to_string(
          |    list_filter(string_split(text, ' '), x -> len(x) > 0),
          |    '') AS decoded
          |  FROM documents
          |  WHERE octet_length(encode(text)) = length(text)"""
          .stripMargin)),

    // UNIGRAM-LM exact SEGMENTATION (the strong half of the pair):
    // the per-doc '|'-joined Viterbi token path + token count under
    // the pinned table, replayed piece by piece by the oracle's
    // recursive enumeration — same (cost, ntok, path) tie-break,
    // same left-to-right cost additions, so doubles compare
    // bit-identically cross-engine. ASCII docs only (non-covered
    // chars take <unk> steps the SQL enumeration does not model).
    QueryDef(
      "t135_unigram_segment",
      (s, dir) => {
        import graft.functions.Unigram
        spread(s, docs(s, dir))
          .filter(octet_length(col("text")) === length(col("text")))
          .select(col("doc_id"),
            array_join(Unigram.tokens(col("text"),
              Unigram.GatePieces), "|").as("path"),
            Unigram.tokenCount(col("text"),
              Unigram.GatePieces).as("n_tokens"))
      },
      Some(
        s"""WITH RECURSIVE
           |${graft.functions.Unigram.duckSql(
               graft.functions.Unigram.GatePieces,
               "documents", "doc_id", "text")}
           |SELECT d.doc_id, u.path,
           |  CAST(u.n_tokens AS BIGINT) AS n_tokens
           |FROM documents d JOIN __ug_doc u ON u.doc_id = d.doc_id
           |WHERE octet_length(encode(d.text)) = length(d.text)"""
          .stripMargin)),

    // BASELINE JPEG GRAY ROUND TRIP (the t105 fixture through a real
    // lossy compressed format): ASCII doc prefixes become 8x8 tiles,
    // encoded as baseline JPEG (T.81 SOF0, Annex K tables) and
    // decoded back. The entropy layer is exact transport, so the
    // oracle replays ONLY the arithmetic chain — Q13 integer DCT
    // (kernel literals embedded), floor-div descale, round-half-up
    // quantize, clamp — and must match the decoder pixel for pixel.
    QueryDef(
      "t136_jpeg_gray_roundtrip",
      (s, dir) => {
        import s.implicits._
        import graft.multimodal.Jpeg
        spread(s, docs(s, dir))
          .filter(octet_length(col("text")) === length(col("text")) &&
            length(col("text")) >= 64)
          .select(col("doc_id"), col("text")).as[(Long, String)]
          .flatMap { case (id, text) =>
            val tile = text.substring(0, 64).getBytes("US-ASCII")
              .map(_.toInt)
            val img = Jpeg.decode(Jpeg.encodeGray(tile, 8, 8)).get
            img.pixels.zipWithIndex.map { case (p, i) =>
              (id, i, p.toLong)
            }
          }.toDF("doc_id", "xy", "px")
      },
      Some(
        s"""WITH imgs AS (SELECT doc_id, substr(text, 1, 64) AS s
           |  FROM documents
           |  WHERE octet_length(encode(text)) = length(text)
           |    AND length(text) >= 64),
           |tiles AS (SELECT doc_id, CAST(r.i AS INT) AS xy,
           |    ord(substr(s, CAST(r.i AS INT) + 1, 1)) AS p
           |  FROM imgs, range(64) r(i)),
           |${graft.multimodal.Jpeg.duckKernelSql()},
           |${graft.multimodal.Jpeg.duckQuantSql("__jp_q",
               graft.multimodal.Jpeg.StdQuantLuma)},
           |${graft.multimodal.Jpeg.duckChainSql("__jp", "tiles",
               "doc_id", "__jp_q")}
           |SELECT doc_id, CAST(xy AS INT) AS xy,
           |  CAST(px AS BIGINT) AS px
           |FROM __jp_r""".stripMargin)),

    // BASELINE JPEG 4:2:0 COLOR (t136 + the full color pipeline):
    // deterministic 16x16 RGB tiles from doc text, through YCbCr
    // (Q8 fixed point), 2x2-mean chroma downsample, per-plane DCT
    // chains (4 luma blocks + 1 each chroma), REPLICATED upsample
    // and the inverse color transform. The oracle replays every
    // stage; the decoder's output must match to the last clamp.
    QueryDef(
      "t137_jpeg_420_roundtrip",
      (s, dir) => {
        import s.implicits._
        import graft.multimodal.Jpeg
        spread(s, docs(s, dir))
          .filter(octet_length(col("text")) === length(col("text")) &&
            length(col("text")) >= 64)
          .select(col("doc_id"), col("text")).as[(Long, String)]
          .flatMap { case (id, text) =>
            val s64 = text.substring(0, 64)
            val rgb = new Array[Int](256 * 3)
            var i = 0
            while (i < 256) {
              rgb(3 * i) = s64.charAt(i % 64).toInt
              rgb(3 * i + 1) = (i * 5) % 256
              rgb(3 * i + 2) = (s64.charAt((i + 7) % 64).toInt + i) % 256
              i += 1
            }
            val img = Jpeg.decode(Jpeg.encodeColor420(rgb, 16, 16)).get
            (0 until 256).map(j => (id, j, img.pixels(3 * j).toLong,
              img.pixels(3 * j + 1).toLong, img.pixels(3 * j + 2).toLong))
          }.toDF("doc_id", "i", "r", "g", "b")
      },
      Some(
        s"""WITH imgs AS (SELECT doc_id, substr(text, 1, 64) AS s
           |  FROM documents
           |  WHERE octet_length(encode(text)) = length(text)
           |    AND length(text) >= 64),
           |rgb AS (SELECT doc_id, CAST(r0.i AS INT) AS i,
           |    ord(substr(s, (CAST(r0.i AS INT) % 64) + 1, 1)) AS r,
           |    (CAST(r0.i AS INT) * 5) % 256 AS g,
           |    (ord(substr(s, ((CAST(r0.i AS INT) + 7) % 64) + 1, 1))
           |      + CAST(r0.i AS INT)) % 256 AS b
           |  FROM imgs, range(256) r0(i)),
           |ycc AS (SELECT doc_id, i, i % 16 AS x, i // 16 AS y,
           |    CAST(floor((77 * r + 150 * g + 29 * b) / 256.0)
           |      AS BIGINT) AS yy,
           |    CAST(floor((-43 * r - 85 * g + 128 * b) / 256.0)
           |      AS BIGINT) + 128 AS cb,
           |    CAST(floor((128 * r - 107 * g - 21 * b) / 256.0)
           |      AS BIGINT) + 128 AS cr
           |  FROM rgb),
           |ytiles AS (SELECT doc_id, (y // 8) * 2 + (x // 8) AS blk,
           |    (y % 8) * 8 + (x % 8) AS xy, yy AS p FROM ycc),
           |cbt AS (SELECT doc_id, (y // 2) * 8 + (x // 2) AS xy,
           |    (SUM(cb) + 2) // 4 AS p FROM ycc GROUP BY 1, 2),
           |crt AS (SELECT doc_id, (y // 2) * 8 + (x // 2) AS xy,
           |    (SUM(cr) + 2) // 4 AS p FROM ycc GROUP BY 1, 2),
           |${graft.multimodal.Jpeg.duckKernelSql()},
           |${graft.multimodal.Jpeg.duckQuantSql("__jp_q",
               graft.multimodal.Jpeg.StdQuantLuma)},
           |${graft.multimodal.Jpeg.duckQuantSql("__jp_qc",
               graft.multimodal.Jpeg.StdQuantChroma)},
           |${graft.multimodal.Jpeg.duckChainSql("__jy", "ytiles",
               "doc_id, blk", "__jp_q")},
           |${graft.multimodal.Jpeg.duckChainSql("__jcb", "cbt",
               "doc_id", "__jp_qc")},
           |${graft.multimodal.Jpeg.duckChainSql("__jcr", "crt",
               "doc_id", "__jp_qc")}
           |SELECT g.doc_id, CAST(g.i AS INT) AS i,
           |  LEAST(255, GREATEST(0, yv.px + CAST(floor(
           |    359 * (cbv2.px2 - 128) / 256.0) AS BIGINT))) AS r,
           |  LEAST(255, GREATEST(0, yv.px - CAST(floor(
           |    (88 * (cbv.px - 128) + 183 * (cbv2.px2 - 128)) / 256.0)
           |    AS BIGINT))) AS g,
           |  LEAST(255, GREATEST(0, yv.px + CAST(floor(
           |    454 * (cbv.px - 128) / 256.0) AS BIGINT))) AS b
           |FROM ycc g
           |JOIN __jy_r yv ON yv.doc_id = g.doc_id
           |  AND yv.blk = (g.y // 8) * 2 + (g.x // 8)
           |  AND yv.xy = (g.y % 8) * 8 + (g.x % 8)
           |JOIN __jcb_r cbv ON cbv.doc_id = g.doc_id
           |  AND cbv.xy = (g.y // 2) * 8 + (g.x // 2)
           |JOIN (SELECT doc_id, xy, px AS px2 FROM __jcr_r) cbv2
           |  ON cbv2.doc_id = g.doc_id
           |  AND cbv2.xy = (g.y // 2) * 8 + (g.x // 2)""".stripMargin)),

    // dHash THROUGH the JPEG codec (t72 composed on a lossy format):
    // the same 9x8 ASCII tiles, but round-tripped through baseline
    // JPEG before hashing — the production shape, where near-dup
    // signatures are computed on DECODED frames, not source pixels.
    // Width 9 pads to two blocks with edge replication (block 1 is
    // column 8 replicated 8x — the oracle replays the pad, both DCT
    // chains, the crop, and the gradient-sign hash over the DECODED
    // pixels).
    QueryDef(
      "t138_jpeg_dhash",
      (s, dir) => {
        import s.implicits._
        import graft.multimodal.Jpeg
        spread(s, docs(s, dir))
          .filter(octet_length(col("text")) === length(col("text")) &&
            length(col("text")) >= 72 && col("doc_id") % 3 === 1)
          .select(col("doc_id"), col("text")).as[(Long, String)]
          .map { case (id, text) =>
            val tile = text.substring(0, 72).getBytes("US-ASCII")
              .map(_.toInt)
            val (_, _, g) =
              Jpeg.decodeLuma(Jpeg.encodeGray(tile, 9, 8)).get
            (id, g)
          }.toDF("doc_id", "gray")
          .withColumn("dhash", graft.functions.ImageOps.dHash("gray"))
          .select(col("doc_id"),
            shiftrightunsigned(col("dhash"), 32).as("h_hi"),
            col("dhash").bitwiseAND(lit(0xffffffffL)).as("h_lo"))
      },
      Some {
        def half(lo: Int, hi: Int, shift: Int): String =
          (lo until hi).map { i =>
            val r = i / 8
            val c = i % 8
            val w = 1L << (i - shift)
            s"(CASE WHEN d.g${r * 9 + c + 1} > d.g${r * 9 + c} " +
              s"THEN ${w} ELSE 0 END)"
          }.mkString("(", " + ", ")")
        val gcols = (0 until 72).map { j =>
          val x = j % 9
          val y = j / 9
          val blk = x / 8
          val xy = (y % 8) * 8 + (x % 8)
          s"MAX(CASE WHEN r.blk = $blk AND r.xy = $xy THEN r.px END)" +
            s" AS g$j"
        }.mkString(",\n           |    ")
        s"""WITH imgs AS (SELECT doc_id, substr(text, 1, 72) AS s
           |  FROM documents
           |  WHERE octet_length(encode(text)) = length(text)
           |    AND length(text) >= 72 AND doc_id % 3 = 1),
           |tiles AS (SELECT doc_id, CAST(b.blk AS INT) AS blk,
           |    CAST(r0.i AS INT) AS xy,
           |    ord(substr(s,
           |      (CAST(r0.i AS INT) // 8) * 9 +
           |        LEAST(CAST(b.blk AS INT) * 8 +
           |          (CAST(r0.i AS INT) % 8), 8) + 1, 1)) AS p
           |  FROM imgs, range(2) b(blk), range(64) r0(i)),
           |${graft.multimodal.Jpeg.duckKernelSql()},
           |${graft.multimodal.Jpeg.duckQuantSql("__jp_q",
               graft.multimodal.Jpeg.StdQuantLuma)},
           |${graft.multimodal.Jpeg.duckChainSql("__jp", "tiles",
               "doc_id, blk", "__jp_q")},
           |dec AS (SELECT doc_id,
           |    $gcols
           |  FROM __jp_r r GROUP BY doc_id)
           |SELECT doc_id,
           |  CAST(${half(32, 64, 32)} AS BIGINT) AS h_hi,
           |  CAST(${half(0, 32, 0)} AS BIGINT) AS h_lo
           |FROM dec d""".stripMargin
      }),

    // SEQUENCE PACKING over UNIGRAM ids (t49's consumer loop closed
    // for the second tokenizer family): the same packer, fed by
    // Viterbi token ids under the pinned piece table. The oracle
    // rebuilds per-word Viterbi paths (the t135 recursive
    // enumeration), explodes them to per-token ids in document order,
    // prefix-sums the global offset, and re-derives every 512-token
    // sequence's md5 — tokenizer and packer verified END TO END.
    QueryDef(
      "t139_unigram_pack",
      (s, dir) => graft.operators.Pack.packSequences(
        spread(s, docs(s, dir))
          .filter(octet_length(col("text")) === length(col("text")))
          .select(col("doc_id"),
            graft.functions.Unigram.tokenIds(col("text"),
              graft.functions.Unigram.GatePieces).as("ids")),
        "doc_id", "ids", seqLen = 512, nBuckets = 7)
        .select(col("seq_id"), col("n_tokens"),
          md5(concat_ws(",",
            transform(col("token_ids"), i => i.cast("string"))))
            .as("seq_md5")),
      Some {
        val vl = graft.functions.Unigram
          .vocab(graft.functions.Unigram.GatePieces)
          .map(v => "'" + v.replace("'", "''") + "'")
          .mkString("[", ", ", "]")
        s"""WITH RECURSIVE
           |da AS (SELECT doc_id, text FROM documents
           |  WHERE octet_length(encode(text)) = length(text)),
           |${graft.functions.Unigram.duckSql(
               graft.functions.Unigram.GatePieces,
               "da", "doc_id", "text")},
           |dw AS (SELECT doc_id,
           |    list_filter(string_split(text, ' '), x -> len(x) > 0)
           |      AS ws
           |  FROM da),
           |dwx AS (SELECT doc_id, generate_subscripts(ws, 1) AS wi,
           |    unnest(ws) AS w FROM dw),
           |tok AS (SELECT doc_id, wi,
           |    generate_subscripts(ps, 1) AS si, unnest(ps) AS sym
           |  FROM (SELECT dwx.doc_id, dwx.wi,
           |      string_split(b.path, '|') AS ps
           |    FROM dwx JOIN __ug_best b ON b.w = dwx.w)),
           |idsx AS (SELECT doc_id,
           |    row_number() OVER (PARTITION BY doc_id
           |      ORDER BY wi, si) - 1 AS ti,
           |    coalesce(nullif(list_position($vl, sym), 0), 2) - 1
           |      AS id
           |  FROM tok),
           |n AS (SELECT doc_id, COUNT(*) AS nt FROM idsx GROUP BY 1),
           |off AS (SELECT doc_id,
           |    COALESCE(SUM(nt) OVER (ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           |      0) AS o
           |  FROM n),
           |gp AS (SELECT i.doc_id, o.o + i.ti AS g, i.id
           |  FROM idsx i JOIN off o USING (doc_id))
           |SELECT CAST(g // 512 AS BIGINT) AS seq_id,
           |  CAST(COUNT(*) AS INT) AS n_tokens,
           |  md5(string_agg(CAST(id AS VARCHAR), ',' ORDER BY g))
           |    AS seq_md5
           |FROM gp GROUP BY 1""".stripMargin
      }),

    // FULL-CONTENT MJPEG video through OUR decoder (t63's successor
    // unlocked by the clean-room codec): t63 had to use solid-gray
    // frames because javax.imageio's JPEG round trip is only
    // DC-exact; graft.multimodal.Jpeg is bit-exact end to end, so
    // every frame can carry real content and the oracle replays the
    // whole pipeline — AVI split (MjpegCodec's SOI/EOI scan over our
    // byte-stuffed streams), per-frame decode, per-pixel values —
    // with the t136 arithmetic chain keyed by (doc, frame).
    QueryDef(
      "t140_mjpeg_content",
      (s, dir) => {
        import s.implicits._
        import graft.multimodal.{Jpeg, Multimodal => mm}
        spread(s, docs(s, dir))
          .filter(octet_length(col("text")) === length(col("text")) &&
            length(col("text")) >= 64 && col("doc_id") % 3 === 0)
          .select(col("doc_id"), col("text")).as[(Long, String)]
          .flatMap { case (id, text) =>
            val s64 = text.substring(0, 64)
            val nf = (id % 4 + 2).toInt
            val frames = (0 until nf).map { i =>
              Jpeg.encodeGray(Array.tabulate(64)(j =>
                s64.charAt((j + i) % 64).toInt), 8, 8)
            }
            val avi = mm.aviMjpeg(frames, 8, 8)
            mm.MjpegCodec.frames(avi).zipWithIndex.flatMap {
              case (fb, fi) =>
                val (_, _, g) = Jpeg.decodeLuma(fb).get
                g.zipWithIndex.map { case (p, xy) =>
                  (id, fi, xy, p.toLong)
                }
            }
          }.toDF("doc_id", "fi", "xy", "px")
      },
      Some(
        s"""WITH imgs AS (SELECT doc_id, substr(text, 1, 64) AS s,
           |    doc_id % 4 + 2 AS nf
           |  FROM documents
           |  WHERE octet_length(encode(text)) = length(text)
           |    AND length(text) >= 64 AND doc_id % 3 = 0),
           |tiles AS (SELECT doc_id, CAST(fr.fi AS INT) AS fi,
           |    CAST(r0.i AS INT) AS xy,
           |    ord(substr(s,
           |      ((CAST(r0.i AS INT) + CAST(fr.fi AS INT)) % 64) + 1,
           |      1)) AS p
           |  FROM imgs, range(64) r0(i), range(6) fr(fi)
           |  WHERE fr.fi < imgs.nf),
           |${graft.multimodal.Jpeg.duckKernelSql()},
           |${graft.multimodal.Jpeg.duckQuantSql("__jp_q",
               graft.multimodal.Jpeg.StdQuantLuma)},
           |${graft.multimodal.Jpeg.duckChainSql("__jp", "tiles",
               "doc_id, fi", "__jp_q")}
           |SELECT doc_id, CAST(fi AS INT) AS fi,
           |  CAST(xy AS INT) AS xy, CAST(px AS BIGINT) AS px
           |FROM __jp_r""".stripMargin)),

    // IMAGE NEAR-DUP THROUGH LOSSY JPEG (t73 composed on a real
    // compressed format): the same id-derived 9x8 family tiles, but
    // encoded with OUR baseline JPEG, decoded with OUR decoder
    // (Multimodal.decodeJpegGray — partition-local, replayable),
    // dHash over the DECODED pixels, then the paired-block banding /
    // hamming-3 verify / smaller-id survivor machinery. The oracle
    // replays the codec chain per doc (two padded blocks), rebuilds
    // every decoded pixel, brute-forces pairwise hammings, and
    // derives the survivor set — quantization noise shifts hash bits
    // relative to t73 and BOTH engines must agree on exactly how.
    QueryDef(
      "t141_jpeg_neardup",
      (s, dir) => {
        import s.implicits._
        import graft.multimodal.{Jpeg, Multimodal => mm}
        val media = spread(s, docs(s, dir))
          .select(col("doc_id")).as[Long]
          .mapPartitions { it =>
            it.map { id =>
              val fam = id / 3
              val mem = id % 3
              val gray = Array.tabulate(72) { j =>
                if (j == 71) ((fam * 37 + 71 * 71 + mem * 97) % 251).toInt
                else ((fam * 37 + j.toLong * j) % 251).toInt
              }
              mm.MediaRecord(id, "image", "image/jpeg", 9, 8, 0L,
                Jpeg.encodeGray(gray, 9, 8))
            }
          }
        val sigs = mm.decodeJpegGray(media).toDF()
          .withColumn("dhash", graft.functions.ImageOps.dHash("gray"))
          .select(col("media_id").as("doc_id"), col("dhash"))
        graft.operators.NearDup.dedupBySignature(sigs, "doc_id",
          "dhash", maxHamming = 3)
          .select(col("doc_id"))
      },
      Some {
        val g = "CASE WHEN j = 71 THEN (fam * 37 + 5041 + mem * 97) % 251 " +
          "ELSE (fam * 37 + j * j) % 251 END"
        s"""WITH d AS (SELECT doc_id, doc_id // 3 AS fam,
           |    doc_id % 3 AS mem FROM documents),
           |pix AS (SELECT doc_id, CAST(jj.j AS INT) AS j, $g AS gv
           |  FROM d, (SELECT unnest(range(72)) AS j) jj),
           |tiles AS (SELECT p.doc_id, CAST(b.blk AS INT) AS blk,
           |    CAST(r0.i AS INT) AS xy, p.gv AS p
           |  FROM (SELECT unnest(range(2)) AS blk) b,
           |       (SELECT unnest(range(64)) AS i) r0,
           |       pix p
           |  WHERE p.j = (CAST(r0.i AS INT) // 8) * 9 +
           |    LEAST(CAST(b.blk AS INT) * 8 +
           |      (CAST(r0.i AS INT) % 8), 8)),
           |${graft.multimodal.Jpeg.duckKernelSql()},
           |${graft.multimodal.Jpeg.duckQuantSql("__jp_q",
               graft.multimodal.Jpeg.StdQuantLuma)},
           |${graft.multimodal.Jpeg.duckChainSql("__jp", "tiles",
               "doc_id, blk", "__jp_q")},
           |jm AS (SELECT CAST(j AS INT) AS j, (j % 9) // 8 AS blk,
           |    (j // 9) * 8 + (j % 9) % 8 AS xy
           |  FROM (SELECT unnest(range(72)) AS j)),
           |dec AS (SELECT r.doc_id, m.j, r.px
           |  FROM __jp_r r JOIN jm m ON m.blk = r.blk AND m.xy = r.xy),
           |bits AS (SELECT p1.doc_id, t.i,
           |    CASE WHEN p2.px > p1.px THEN 1 ELSE 0 END AS b
           |  FROM (SELECT unnest(range(64)) AS i) t
           |  JOIN dec p1 ON p1.j = (t.i // 8) * 9 + (t.i % 8)
           |  JOIN dec p2 ON p2.doc_id = p1.doc_id
           |    AND p2.j = (t.i // 8) * 9 + (t.i % 8) + 1),
           |ham AS (SELECT x.doc_id AS hi_id, y.doc_id AS lo_id,
           |    SUM(CASE WHEN x.b <> y.b THEN 1 ELSE 0 END) AS h
           |  FROM bits x JOIN bits y ON x.i = y.i
           |    AND x.doc_id > y.doc_id
           |  GROUP BY 1, 2),
           |removed AS (SELECT DISTINCT hi_id FROM ham WHERE h <= 3)
           |SELECT doc_id FROM d
           |WHERE doc_id NOT IN (SELECT hi_id FROM removed)"""
          .stripMargin
      }),

    // WITNESS/PAIRS equivalence, oracle-side: t101 now runs the
    // candidate+verify witness path (deterministic rarest-probe
    // pigeonhole — complete by construction, so the SAME pair-replay
    // SQL stays its oracle). This gate keeps the r11 pair-
    // materializing reference path oracle-gated too: both paths
    // replay one SQL, so a drift in EITHER goes red, and the
    // ContainmentWitnessSpec equality assertion has a driver-side
    // anchor. Corpus identical to t101's.
    QueryDef(
      "t144_containment_pairs_path",
      (s, dir) => {
        // a THIRD of t101's corpus: this gate pins the reference
        // path's SEMANTICS (same SQL as t101), not its scale — the
        // family's scaled rows are t100/t101 on the pruned paths, and
        // the join form's Σdf² would otherwise tax every bench run
        // quadratically for a pure equivalence pin
        val d = spread(s, docs(s, dir))
          .filter(col("doc_id") % 3 === 0)
          .select(col("doc_id"), col("text"))
        val ex = d.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 100000).as("doc_id"),
            array_join(slice(split(col("text"), " "), 1, 14), " ")
              .as("text"))
        graft.operators.NearDup.dedupByContainmentViaPairs(
          d.unionByName(ex), "doc_id", "text", tau = 0.9)
          .select(col("doc_id"))
      },
      Some(
        s"""WITH u AS (
           |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
           |  UNION ALL
           |  SELECT doc_id + 100000 AS doc_id,
           |    array_to_string(list_slice(string_split(text, ' '), 1, 14),
           |      ' ') AS text
           |  FROM documents WHERE doc_id % 30 = 0),
           |t AS (SELECT doc_id,
           |    ${DuckSql.shingles3("string_split(text, ' ')")} AS sh
           |  FROM u),
           |sz AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n FROM t
           |  WHERE len(sh) > 0),
           |g AS (SELECT doc_id, unnest(sh) AS gr FROM t),
           |hot AS (SELECT gr FROM g GROUP BY gr
           |  HAVING COUNT(*) > ${graft.operators.NearDup.ContainmentMaxDfDefault}),
           |gk AS (SELECT doc_id, gr FROM g
           |  WHERE gr NOT IN (SELECT gr FROM hot)),
           |i AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
           |    COUNT(*) AS n_inter
           |  FROM gk a JOIN gk b ON a.gr = b.gr AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2),
           |p AS (SELECT i.ida, i.idb, sa.n AS na, sb.n AS nb,
           |    round(CAST(i.n_inter AS DOUBLE) / sa.n, 6) AS ca,
           |    round(CAST(i.n_inter AS DOUBLE) / sb.n, 6) AS cb
           |  FROM i JOIN sz sa ON sa.doc_id = i.ida
           |    JOIN sz sb ON sb.doc_id = i.idb),
           |d AS (SELECT DISTINCT CASE
           |    WHEN ca >= 0.9 AND na < nb THEN ida
           |    WHEN cb >= 0.9 AND nb < na THEN idb
           |    WHEN na = nb AND ca >= 0.9 THEN idb END AS doc_id
           |  FROM p WHERE ca >= 0.9 OR cb >= 0.9)
           |SELECT u.doc_id FROM u
           |WHERE u.doc_id NOT IN (SELECT doc_id FROM d
           |  WHERE doc_id IS NOT NULL)""".stripMargin)),

    // MOTION-PREDICTED VIDEO (MPEG-1-style I/P arithmetic, clean-room
    // — see Mpv.scala's boundary note): 3-frame GOPs (I, P, P) of
    // 32x32 luma synthesized per doc, per-macroblock forward motion
    // vectors from doc_id arithmetic, DCT-coded clamped residuals
    // with CLOSED-LOOP prediction. The oracle replays the whole
    // prediction chain pixel by pixel: I-frame through the shared
    // JPEG DCT kernel SQL, then per P-frame motion compensation of
    // the PREVIOUS RECONSTRUCTION, the [-128,127] residual clamp, the
    // same DCT chain over residual+128 tiles, and the final [0,255]
    // reconstruction clamp. Decode is exercised end-to-end: the gate
    // emits the DECODER's pixels, not the encoder's.
    QueryDef(
      "t142_mpeg_video",
      (s, dir) => {
        import s.implicits._
        import graft.multimodal.Mpv
        spread(s, docs(s, dir))
          .filter(col("doc_id") % 10 === 0)
          .select(col("doc_id")).as[Long]
          .flatMap { id =>
            val w = 32
            val h = 32
            def target(k: Int): Array[Int] = Array.tabulate(w * h)(i =>
              ((id * 31 + k * 57 + (i / w) * 37 + (i % w) * 13) % 251)
                .toInt)
            def mvs(k: Int): Array[(Int, Int)] = Array.tabulate(4) { mb =>
              val bx = mb % 2
              val byy = mb / 2
              val dx = ((id + k + bx) % 3).toInt
              val dy = ((id + k + byy) % 3).toInt
              (if (bx == 0) dx else -dx, if (byy == 0) dy else -dy)
            }
            val bytes = Mpv.encode(
              Seq(target(0), target(1), target(2)), w, h,
              Seq(mvs(1), mvs(2)))
            val v = Mpv.decode(bytes).get
            v.frames.zipWithIndex.flatMap { case (f, fi) =>
              f.zipWithIndex.map { case (p, xy) => (id, fi, xy, p.toLong) }
            }
          }.toDF("doc_id", "fi", "xy", "px")
      },
      Some(mpvOracleSql())),

    // OGG CONTAINER WALK (RFC 3533) — the declared Ogg/Vorbis stub
    // closed at the container level (Vorbis DSP stays behind the
    // Mp3-style clean-room boundary; see Ogg.scala): per doc a
    // 4-page Vorbis-shaped stream — BOS identification header,
    // comment header, an audio page with multi-lacing (a 260+ byte
    // packet) and a page-SPANNING packet (255-byte head, continued
    // flag + tail on the EOS page). The oracle rebuilds every page's
    // BYTE LIST from the same arithmetic and replays the Ogg CRC
    // (non-reflected 0x04c11db7, init 0, no xor-out) with a
    // list_reduce fold over the inlined 256-entry table — page CRC
    // and granule arithmetic both oracle-pinned.
    QueryDef(
      "t143_ogg_pages",
      (s, dir) => {
        import s.implicits._
        import graft.multimodal.Ogg
        spread(s, docs(s, dir))
          .filter(col("doc_id") % 5 === 0)
          .select(col("doc_id")).as[Long]
          .flatMap { id =>
            val channels = (1 + id % 2).toInt
            val rate = 8000L + (id % 4) * 4000L
            val ident = Ogg.vorbisIdentPacket(channels, rate)
            val comment = Ogg.vorbisCommentPacket("graft",
              Seq("TITLE" -> s"doc$id"))
            def audio(j: Int, n: Int): Array[Byte] =
              Array.tabulate(n)(i => ((id * 3 + j * 7 + i) % 256).toByte)
            val a1 = audio(1, (40 + id % 30).toInt)
            val a2 = audio(2, (260 + id % 40).toInt)
            val a3 = audio(3, (285 + id % 20).toInt)
            val stream =
              Ogg.page(0x02, 0L, id, 0L, Seq((ident, true))) ++
                Ogg.page(0x00, 0L, id, 1L, Seq((comment, true))) ++
                Ogg.page(0x00, 256L, id, 2L, Seq((a1, true), (a2, true),
                  (a3.take(255), false))) ++
                Ogg.page(0x05, 384L, id, 3L, Seq((a3.drop(255), true)))
            Ogg.pages(stream).map(p =>
              (id, p.seq, p.headerType, p.granule, p.nSegments,
                p.payloadLen, p.nCompletePackets, p.crcStored,
                if (p.crcOk) 1 else 0))
          }.toDF("doc_id", "seq", "header_type", "granule",
            "n_segments", "payload_len", "n_packets", "crc", "crc_ok")
      },
      Some(oggOracleSql())),

    // DELTA-PROTOCOL IMPORT under the oracle — the read HALF of the
    // interop contract (t65/export is the write half): a commit-log
    // table built from documents (v1 = doc_id%3=0; v2 adds %3=1 and
    // re-counts %6=0) exports BOTH versions as Delta tables
    // partitioned by lang (hive layout + URI-encoded add paths +
    // partitionValues), and DeltaImport replays each _delta_log back
    // to a DataFrame. The oracle recomputes both version states from
    // documents directly — hash-equality proves log replay, path
    // decoding and partition-column reattachment are lossless.
    QueryDef(
      "t145_delta_import",
      (s, dir) => {
        val cl = graft.operators.CommitLogTableFormat
        val base = Tables.gatePath(dir, "dimport")
        val fsPath = new org.apache.hadoop.fs.Path(base)
        fsPath.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(fsPath, true) // deterministic rebuild per run
        val table = s"$base/table"
        val d = Tables(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("source"),
            col("n_chars").cast("long").as("n_chars"))
        val b1 = d.filter(col("doc_id") % 3 === 0)
          .withColumn("ver", lit(1L))
        val b2 = d.filter(col("doc_id") % 3 === 1)
          .unionByName(d.filter(col("doc_id") % 6 === 0)
            .withColumn("n_chars", col("n_chars") + lit(1000L)))
          .withColumn("ver", lit(2L))
        cl.upsert(s, b1, table, Seq("doc_id"), "ver")
        cl.upsert(s, b2, table, Seq("doc_id"), "ver")
        graft.operators.DeltaExport.exportDeltaSnapshot(
          s, table, 1L, s"$base/v1", partitionCols = Seq("lang"))
        graft.operators.DeltaExport.exportDeltaSnapshot(
          s, table, 2L, s"$base/v2", partitionCols = Seq("lang"))
        val v1 = graft.operators.DeltaImport.read(s, s"$base/v1")
          .withColumn("version", lit(1))
        val v2 = graft.operators.DeltaImport.read(s, s"$base/v2")
          .withColumn("version", lit(2))
        v1.unionByName(v2).select(col("version"), col("doc_id"),
          col("lang"), col("source"), col("n_chars"))
      },
      Some(
        """SELECT CAST(1 AS INT) AS version, doc_id, lang, source,
          |  CAST(n_chars AS BIGINT) AS n_chars
          |FROM documents WHERE doc_id % 3 = 0
          |UNION ALL
          |SELECT CAST(2 AS INT) AS version, doc_id, lang, source,
          |  CAST(CASE WHEN doc_id % 6 = 0 THEN n_chars + 1000
          |    ELSE n_chars END AS BIGINT) AS n_chars
          |FROM documents WHERE doc_id % 3 IN (0, 1)""".stripMargin)),

    // CONTINUOUS DELTA MIRROR under the oracle — t145 proves one
    // snapshot's log replays; this proves the MULTI-COMMIT form: a
    // zero-copy `_delta_log` written INTO the commit-log table root
    // (one Delta commit per upsert, file-level remove/add diffs
    // against the mirror's own replayed state), then DeltaImport
    // time-travels all three Delta versions. The oracle recomputes
    // each version's state from documents — hash-equality pins the
    // whole chain: diff computation, remove/add replay ordering, and
    // version mapping.
    QueryDef(
      "t146_delta_mirror",
      (s, dir) => {
        val cl = graft.operators.CommitLogTableFormat
        val base = Tables.gatePath(dir, "dmirror")
        val fsPath = new org.apache.hadoop.fs.Path(base)
        fsPath.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(fsPath, true) // deterministic rebuild per run
        val table = s"$base/table"
        val d = Tables(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            col("n_chars").cast("long").as("n_chars"))
        val b1 = d.filter(col("doc_id") % 4 === 0)
          .withColumn("ver", lit(1L))
        val b2 = d.filter(col("doc_id") % 4 === 1)
          .unionByName(d.filter(col("doc_id") % 8 === 0)
            .withColumn("n_chars", col("n_chars") + lit(1000L)))
          .withColumn("ver", lit(2L))
        val b3 = d.filter(col("doc_id") % 4 === 2)
          .unionByName(d.filter(col("doc_id") % 8 === 1)
            .withColumn("n_chars", col("n_chars") + lit(2000L)))
          .withColumn("ver", lit(3L))
        cl.upsert(s, b1, table, Seq("doc_id"), "ver")
        cl.upsert(s, b2, table, Seq("doc_id"), "ver")
        cl.upsert(s, b3, table, Seq("doc_id"), "ver")
        // interval 2 ⇒ a classic checkpoint lands at Delta version 1,
        // so the three reads below resolve through all three paths:
        // pure commits (v0), pure checkpoint (v1), checkpoint + tail
        // commit (v2) — each hash-checked against the oracle
        graft.operators.DeltaExport.mirror(s, table,
          checkpointInterval = 2)
        (0L to 2L).map { dv =>
          graft.operators.DeltaImport.read(s, table, Some(dv))
            .withColumn("version", lit((dv + 1).toInt))
        }.reduce(_.unionByName(_))
          .select(col("version"), col("doc_id"), col("lang"),
            col("n_chars"))
      },
      Some(
        """SELECT CAST(1 AS INT) AS version, doc_id, lang,
          |  CAST(n_chars AS BIGINT) AS n_chars
          |FROM documents WHERE doc_id % 4 = 0
          |UNION ALL
          |SELECT CAST(2 AS INT) AS version, doc_id, lang,
          |  CAST(CASE WHEN doc_id % 8 = 0 THEN n_chars + 1000
          |    ELSE n_chars END AS BIGINT) AS n_chars
          |FROM documents WHERE doc_id % 4 IN (0, 1)
          |UNION ALL
          |SELECT CAST(3 AS INT) AS version, doc_id, lang,
          |  CAST(CASE WHEN doc_id % 8 = 0 THEN n_chars + 1000
          |    WHEN doc_id % 8 = 1 THEN n_chars + 2000
          |    ELSE n_chars END AS BIGINT) AS n_chars
          |FROM documents WHERE doc_id % 4 IN (0, 1, 2)""".stripMargin)),
  )

  /** DuckDB replay of the t143 Ogg fixture: page byte lists rebuilt
    * from the same doc_id arithmetic, CRC folded over the inlined
    * table, lacing/granule/packet counts recomputed. */
  private def oggOracleSql(): String = {
    def le(expr: String, n: Int): String =
      s"list_transform(range($n), i -> ($expr >> (8 * i)) & 255)"
    val identList =
      "[1,118,111,114,98,105,115, 0,0,0,0, ch, " +
        "rate % 256, (rate // 256) % 256, (rate // 65536) % 256, " +
        "(rate // 16777216) % 256, " +
        "0,0,0,0,0,0,0,0,0,0,0,0, 184, 1]"
    // "graft" and "TITLE=doc" as byte literals
    val graftB = "graft".getBytes("UTF-8").map(_.toInt)
      .mkString("[", ",", "]")
    val titleB = "TITLE=doc".getBytes("UTF-8").map(_.toInt)
      .mkString("[", ",", "]")
    val commentList =
      s"[3,118,111,114,98,105,115] || ${le("5", 4)} || $graftB || " +
        s"${le("1", 4)} || ${le("(9 + length(ds))", 4)} || $titleB || " +
        "list_transform(range(length(ds)), " +
        "i -> ord(substr(ds, CAST(i + 1 AS INT), 1))) || [1]"
    s"""WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 0),
       |${graft.multimodal.Ogg.duckCrcTableSql()},
       |par AS (SELECT doc_id, 1 + doc_id % 2 AS ch,
       |    8000 + (doc_id % 4) * 4000 AS rate,
       |    CAST(doc_id AS VARCHAR) AS ds,
       |    40 + doc_id % 30 AS n1, 260 + doc_id % 40 AS n2,
       |    285 + doc_id % 20 AS n3
       |  FROM d),
       |pk AS (SELECT doc_id, $identList AS ident,
       |    $commentList AS cmt,
       |    list_transform(range(n1), i -> (doc_id * 3 + 7 + i) % 256) AS a1,
       |    list_transform(range(n2), i -> (doc_id * 3 + 14 + i) % 256) AS a2,
       |    list_transform(range(n3), i -> (doc_id * 3 + 21 + i) % 256) AS a3,
       |    n1, n2, n3
       |  FROM par),
       |pg AS (
       |  SELECT doc_id, 0 AS seq, 2 AS ht, 0 AS gr,
       |      [30] AS lacing, ident AS payload FROM pk
       |  UNION ALL SELECT doc_id, 1, 0, 0, [len(cmt)], cmt FROM pk
       |  UNION ALL SELECT doc_id, 2, 0, 256,
       |      [n1, 255, n2 - 255, 255],
       |      a1 || a2 || list_slice(a3, 1, 255) FROM pk
       |  UNION ALL SELECT doc_id, 3, 5, 384, [n3 - 255],
       |      list_slice(a3, 256, n3) FROM pk),
       |fullpg AS (SELECT doc_id, seq, ht, gr,
       |    [79,103,103,83,0,ht] || ${le("gr", 8)} ||
       |      ${le("doc_id", 4)} || ${le("seq", 4)} ||
       |      [0,0,0,0] || [len(lacing)] || lacing || payload AS bytes,
       |    len(lacing) AS nseg, len(payload) AS plen,
       |    len(list_filter(lacing, l -> l < 255)) AS npk
       |  FROM pg)
       |SELECT doc_id, CAST(seq AS BIGINT) AS seq,
       |  CAST(ht AS INT) AS header_type, CAST(gr AS BIGINT) AS granule,
       |  CAST(nseg AS INT) AS n_segments, CAST(plen AS INT) AS payload_len,
       |  CAST(npk AS INT) AS n_packets,
       |  ${graft.multimodal.Ogg.duckCrcFoldSql("bytes")} AS crc,
       |  CAST(1 AS INT) AS crc_ok
       |FROM fullpg, __ogg_crc""".stripMargin
  }

  /** DuckDB replay of the t142 motion-predicted GOP: the I-frame DCT
    * chain, then per P-frame MC(previous reconstruction) + clamped
    * residual through the same chain. Generated per frame index so
    * the CTE stack stays mechanical. */
  private def mpvOracleSql(): String = {
    def chain(pfx: String, tiles: String): String =
      graft.multimodal.Jpeg.duckChainSql(pfx, tiles, "doc_id, blk",
        "__jp_q")
    def toTiles(name: String, from: String): String =
      s"""$name AS (SELECT doc_id,
         |    (y // 8) * 4 + (x // 8) AS blk,
         |    (y % 8) * 8 + (x % 8) AS xy, p
         |  FROM $from)""".stripMargin
    def fromTiles(alias: String): (String, String) =
      (s"CAST(($alias.blk // 4) * 8 + ($alias.xy // 8) AS INT)",
        s"CAST(($alias.blk % 4) * 8 + ($alias.xy % 8) AS INT)")
    val pFrames = (1 to 2).map { k =>
      val (ry, rx) = fromTiles("rr")
      s"""t$k AS (SELECT doc_id, x, y,
         |    (doc_id * 31 + $k * 57 + y * 37 + x * 13) % 251 AS p
         |  FROM px),
         |mv$k AS (SELECT d.doc_id, CAST(rbx.b AS INT) AS mbx,
         |    CAST(rby.b AS INT) AS mby,
         |    CASE WHEN rbx.b = 0 THEN (d.doc_id + $k + rbx.b) % 3
         |         ELSE -((d.doc_id + $k + rbx.b) % 3) END AS dx,
         |    CASE WHEN rby.b = 0 THEN (d.doc_id + $k + rby.b) % 3
         |         ELSE -((d.doc_id + $k + rby.b) % 3) END AS dy
         |  FROM d, range(2) rbx(b), range(2) rby(b)),
         |pred$k AS (SELECT p.doc_id, p.x, p.y, r.px AS pred
         |  FROM px p
         |  JOIN mv$k m ON m.doc_id = p.doc_id
         |    AND m.mbx = p.x // 16 AND m.mby = p.y // 16
         |  JOIN r${k - 1} r ON r.doc_id = p.doc_id
         |    AND r.x = p.x + m.dx AND r.y = p.y + m.dy),
         |res$k AS (SELECT t.doc_id, t.x, t.y, pr.pred,
         |    LEAST(127, GREATEST(-128, t.p - pr.pred)) + 128 AS p
         |  FROM t$k t JOIN pred$k pr ON pr.doc_id = t.doc_id
         |    AND pr.x = t.x AND pr.y = t.y),
         |${toTiles(s"p${k}_tiles", s"res$k")},
         |${chain(s"f$k", s"p${k}_tiles")},
         |r$k AS (SELECT rr.doc_id, $ry AS y, $rx AS x,
         |    LEAST(255, GREATEST(0, rs.pred + rr.px - 128)) AS px
         |  FROM f${k}_r rr JOIN res$k rs ON rs.doc_id = rr.doc_id
         |    AND rs.x = $rx AND rs.y = $ry)""".stripMargin
    }.mkString(",\n")
    val (r0y, r0x) = fromTiles("f0_r")
    s"""WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 0),
       |px AS (SELECT doc_id, CAST(rx.x AS INT) AS x,
       |    CAST(ry.y AS INT) AS y
       |  FROM d, range(32) rx(x), range(32) ry(y)),
       |${graft.multimodal.Jpeg.duckKernelSql()},
       |${graft.multimodal.Jpeg.duckQuantSql("__jp_q",
           graft.multimodal.Jpeg.StdQuantLuma)},
       |t0 AS (SELECT doc_id, x, y,
       |    (doc_id * 31 + y * 37 + x * 13) % 251 AS p FROM px),
       |${toTiles("i_tiles", "t0")},
       |${chain("f0", "i_tiles")},
       |r0 AS (SELECT f0_r.doc_id, $r0y AS y, $r0x AS x, f0_r.px
       |  FROM f0_r),
       |$pFrames
       |SELECT doc_id, CAST(0 AS INT) AS fi,
       |  CAST(y * 32 + x AS INT) AS xy, CAST(px AS BIGINT) AS px FROM r0
       |UNION ALL SELECT doc_id, CAST(1 AS INT),
       |  CAST(y * 32 + x AS INT), CAST(px AS BIGINT) FROM r1
       |UNION ALL SELECT doc_id, CAST(2 AS INT),
       |  CAST(y * 32 + x AS INT), CAST(px AS BIGINT) FROM r2"""
      .stripMargin
  }

  /** DuckDB CTE chain mirroring Retrieval.bm25 term by term: same
    * corpus stats, same per-term expression tree, same left-assoc sum
    * in declared term order, same round-6 (k1 = 1.25, b = 0.75 →
    * literals 2.25/1.25/0.25/0.75, all exact). Ends with `sc` =
    * (doc_id, bm25). */
  private def bm25Ctes(terms: Seq[String]): String = {
    val dfCols = terms.zipWithIndex.map { case (t, i) =>
      s"SUM(CASE WHEN list_contains(tk, '$t') THEN 1.0 ELSE 0.0 END) AS df_$i"
    }.mkString(",\n    ")
    val chain = terms.zipWithIndex.map { case (t, i) =>
      val tf = s"CAST(len(list_filter(tk, x -> x = '$t')) AS DOUBLE)"
      s"ln((n - df_$i + 0.5) / (df_$i + 0.5) + 1.0) * ($tf * 2.25)" +
        s" / ($tf + 1.25 * (0.25 + 0.75 * (dl / (sumdl / n))))"
    }.mkString("(", " + ", ")")
    s"""tk2 AS (SELECT doc_id, string_split(text, ' ') AS tk,
       |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
       |  FROM documents),
       |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(dl) AS sumdl,
       |    $dfCols
       |  FROM tk2),
       |sc AS (SELECT doc_id, round($chain, 6) AS bm25 FROM tk2, st)""".stripMargin
  }

  /** DuckDB mirror of NearDup.simhashBandsPaired's 10-table packing
    * at maxHamming = 3: blocks of 13/13/13/13/12 bits at offsets
    * 0/13/26/39/52, one UNION ALL arm per block pair, band_hash =
    * hi-block value shifted past the lo-block width plus the lo-block
    * value (injective — widths are fixed per pair). */
  private def pairedBandSelectsSql(sigRel: String): String = {
    val widths = Seq(13, 13, 13, 13, 12)
    val offs = widths.scanLeft(0)(_ + _)
    val pairs = for {
      i <- 0 until 5
      j <- (i + 1) until 5
    } yield (i, j)
    pairs.zipWithIndex.map { case ((i, j), t) =>
      val maskI = (1L << widths(i)) - 1
      val maskJ = (1L << widths(j)) - 1
      s"SELECT doc_id, $t AS band_id, " +
        s"((simhash >> ${offs(i)}) & $maskI) * ${1L << widths(j)} + " +
        s"((simhash >> ${offs(j)}) & $maskJ) AS band_hash FROM $sigRel"
    }.mkString(" UNION ALL ")
  }

  /** Squared L2 between vector-relation `e`'s sub-slice and PQ-codebook
    * relation `c`'s per-dim columns m0..m{dsub-1}: the sub-slice is
    * positional indexing `vcol[c.sub·dsub + i + 1]` — a left-assoc
    * addition chain matching Spark's sequential fold. */
  private def pqD2SqlOn(e: String, vcol: String, c: String,
      dsub: Int): String =
    (0 until dsub).map { i =>
      val d = s"(CAST($e.$vcol[$c.sub * $dsub + ${i + 1}] AS DOUBLE)" +
        s" - $c.m$i)"
      s"$d * $d"
    }.mkString("(", " + ", ")")

  private def pqD2Sql(e: String, c: String, dsub: Int): String =
    pqD2SqlOn(e, "embedding", c, dsub)

  /** WITH-chain replicating Ann.trainPq in DuckDB — lloydSql's shape
    * run per subspace, all subspaces at once: b0 = code c of subspace
    * s is the c-th smallest-id vector's slice [s·dsub+1, (s+1)·dsub];
    * then per iteration k: pa_k (assign each (vector, subspace) to its
    * nearest code), ps_k (per-(sub, code, dim) floor(x·10⁶) BIGINT
    * sums — exact, order-free), b_k (mean as one double division,
    * empty codes COALESCE to the previous codeword). Codewords are
    * per-dim columns m0..m{dsub-1} keyed by (sub, code). */
  private def pqLloydSql(m: Int, dsub: Int, ksub: Int, iters: Int): String =
    pqLloydSqlFrom("embeddings", "embedding", m, dsub, ksub, iters)

  /** Same chain over any (vec_id, `vcol` list) relation — lets the
    * residual gate (t35) train codebooks on a residual CTE. */
  private def pqLloydSqlFrom(rel: String, vcol: String, m: Int,
      dsub: Int, ksub: Int, iters: Int): String = {
    val subList = (0 until m).mkString("[", ", ", "]")
    val initCols = (0 until dsub)
      .map(i => s"CAST(e.$vcol[ss.sub * $dsub + ${i + 1}] AS DOUBLE)" +
        s" AS m$i")
      .mkString(", ")
    val sb = new StringBuilder(
      s"""b0 AS (SELECT ss.sub, CAST(e.rn - 1 AS INTEGER) AS code, $initCols
         |  FROM (SELECT vec_id, $vcol,
         |          row_number() OVER (ORDER BY vec_id) AS rn
         |        FROM $rel ORDER BY vec_id LIMIT $ksub) e,
         |       (SELECT unnest($subList) AS sub) ss)""".stripMargin)
    for (k <- 1 to iters) {
      val prev = s"b${k - 1}"
      val sumCols = (0 until dsub)
        .map(i => s"SUM(CAST(floor(CAST(e.$vcol[a.sub * $dsub + " +
          s"${i + 1}] AS DOUBLE) * 1000000.0) AS BIGINT)) AS s$i")
        .mkString(", ")
      val meanCols = (0 until dsub)
        .map(i => s"COALESCE(CAST(q.s$i AS DOUBLE) / (1000000.0 * q.n), " +
          s"p.m$i) AS m$i")
        .mkString(", ")
      sb ++= s""",
         |pa$k AS (SELECT e.vec_id, c.sub, c.code,
         |    row_number() OVER (PARTITION BY e.vec_id, c.sub
         |      ORDER BY ${pqD2SqlOn("e", vcol, "c", dsub)} ASC,
         |        c.code ASC) AS rn
         |  FROM $rel e, $prev c),
         |ps$k AS (SELECT a.sub, a.code, COUNT(*) AS n, $sumCols
         |  FROM (SELECT vec_id, sub, code FROM pa$k WHERE rn = 1) a
         |  JOIN $rel e USING (vec_id) GROUP BY a.sub, a.code),
         |b$k AS (SELECT p.sub, p.code, $meanCols
         |  FROM $prev p LEFT JOIN ps$k q
         |    ON q.sub = p.sub AND q.code = p.code)""".stripMargin
    }
    sb.toString
  }
}
