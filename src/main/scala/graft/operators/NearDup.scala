package graft.operators

import graft.functions.{TextOps, VectorOps}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** End-to-end MinHash-LSH near-duplicate dedup — the composed 100-TB
  * operator the query-level pieces (t07 signatures, t08 candidates,
  * t12 exact verify) build up to:
  *
  *   shingle → minhash signature → banded LSH buckets → candidate
  *   pairs → exact-Jaccard verify → keep-min-id survivors
  *
  * Scale shape: signatures are narrow (id, band_id, band_hash) rows
  * shuffled once on (band_id, band_hash); candidate expansion is
  * bucket-local; the exact verify touches only candidate pairs (not
  * O(n²)); the final filter is a left-anti join on the id.
  *
  * Hot-bucket guard: a degenerate corpus (one document mass-duplicated
  * millions of times) turns one LSH bucket into the whole corpus —
  * clique expansion there is O(n²) pairs and a single `collect_list`
  * array of the bucket OOMs its task. Buckets larger than `maxBucket`
  * therefore switch to hub-star expansion: (bucket-min id) × each other
  * member — n-1 bounded-width pairs, all computed with aggregates, no
  * oversized arrays. For keep-min-id dedup the hub is the natural
  * survivor; the documented approximation is that an oversized-bucket
  * member failing the exact verify against the hub (but not against
  * some other member) is kept — only reachable in the pathological
  * bucket the guard exists for.
  */
object NearDup {

  /** Default hot-gram cap for the containment family (df > this is
    * excluded from intersection counting — see `containmentPairs`'s
    * HOT-GRAM GUARD note). FINITE BY DEFAULT: a gram of document
    * frequency df costs df² join rows, so one boilerplate shingle in
    * 10⁶ docs is a 10¹²-row join — the only superlinear cliff in the
    * family, and at 100 TB it is not survivable. A trigram shared by
    * more than 500 documents is boilerplate for containment purposes
    * (common-language or template text — mass VERBATIM duplicates are
    * exact-dedup's job, upstream); excluding it makes every reported
    * containment a conservative LOWER BOUND (dedup keeps a superset
    * of the exact run's survivors) and caps any gram's join cost at
    * 500² = 250k rows. The EXACT exhaustive form is an explicit
    * opt-in: pass `maxDf = NearDup.ContainmentExhaustive`. Audit what
    * a cap excludes with [[hotGrams]]. */
  val ContainmentMaxDfDefault = 500

  /** Opt-in 'no hot-gram cap' sentinel for the containment family:
    * exact semantics, df²-unbounded join — small/trusted corpora
    * only. */
  val ContainmentExhaustive: Int = Int.MaxValue

  /** DISTINCT 3-gram shingle frame — (idCol, __shraw, __ntk). The
    * single most expensive projection of the text dedup family; the
    * composed operators build it ONCE, persist it, and derive BOTH the
    * minhash signature and the exact-Jaccard verify sets from it.
    * Distincting happens HERE, at build time, not per consumer:
    * minhash minima are duplicate-invariant (min over a multiset =
    * min over its set), the verify needs the set anyway, and every
    * duplicate shingle dropped before the persist is bytes the cache
    * never stores and every later stage never deserializes — on this
    * frame, cache IO is the measured cost driver, not CPU. `__ntk`
    * (token count) rides along so downstream emptiness filters never
    * re-evaluate the shingle expression — on an UNPERSISTED frame
    * every extra reference to `__shraw` is a full rebuild after
    * CollapseProject inlines it.
    *
    * `__fp` is md5 of the RAW text — NOT `TextOps.fingerprint`'s
    * canonicalized (lower+trim) form. The collapse below is exact only
    * for byte-identical texts: canonical variants ("A B C" vs "a b c")
    * share a fingerprint but have DIFFERENT case-sensitive token and
    * shingle sets, so collapsing them would drop a member whose true
    * shingle Jaccard to the rep can be 0 — silently diverging from the
    * exact-Jaccard policy every dedup operator here documents. */
  private[graft] def rawShingles(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.withColumn("__tk", TextOps.tokens(col(textCol)))
      .select(col(idCol),
        array_distinct(TextOps.shingles3Raw(col("__tk"))).as("__shraw"),
        size(col("__tk")).as("__ntk"),
        md5(col(textCol)).as("__fp"))

  /** Collapse exact-text duplicate classes before any LSH machinery:
    * (pruned shingle frame holding one representative per raw-text
    * class, removed-member ids). The class key is md5 of the RAW text
    * (see [[rawShingles]]): byte-identical texts — and only those —
    * have identical shingle sets, so J = 1 ≥ any threshold and
    * identical band values, and a member's removal is always witnessed
    * at rep level; dropping members first is exact, and it disarms the
    * mass-duplication pathology (a 2048-copy document becomes ONE
    * banded row instead of 2048 rows cliquing in every bucket).
    * Case/whitespace variants do NOT collapse here — they flow through
    * the LSH + exact-Jaccard verify like any other pair (the
    * canonicalized policy lives in `Curate.exactDedup`, a separate,
    * documented stage). Only ≥3-token docs collapse: shorter docs have
    * no shingles, are never candidates, and identical copies of them
    * must keep surviving. */
  private[graft] def collapseExactClasses(sh: DataFrame,
      idCol: String): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    // the class minimum as a window over (id, __fp), not a join back
    // to a grouped frame: a join keyed on the string __fp is planned
    // as a broadcast, and a string-keyed broadcast pins a whole memory
    // page for as long as it lives
    val removedExact = sh.filter(col("__ntk") >= 3)
      .select(col(idCol),
        min(col(idCol)).over(Window.partitionBy("__fp")).as("__rep"))
      .filter(col(idCol) =!= col("__rep"))
      .select(col(idCol))
    (sh.join(removedExact, Seq(idCol), "left_anti"), removedExact)
  }

  /** Signature core over a pre-built [[rawShingles]] frame. */
  private def minhashBandsFromShingles(sh: DataFrame, idCol: String,
      k: Int, bands: Int): DataFrame = {
    require(bands > 0 && k % bands == 0,
      s"k=$k must be a multiple of bands=$bands")
    val rowsPerBand = k / bands
    // minhash minima are duplicate-invariant, so the distinct frame
    // gives the exact same signature the raw multiset would. The
    // <3-token gate reads __ntk, not size(__shraw): an EMPTY shingle
    // array yields the identical all-MaxValue signature — one giant
    // false bucket — and sizing __shraw directly would rebuild the
    // shingle expression. The signature itself is the native
    // MinhashSig expression (digest bytes → k running minima in one
    // pass, bit-equal to the composed md5+conv+fold recipe the t07
    // oracle replicates — parity spec-pinned as well).
    val sig = sh
      .filter(col("__ntk") >= 3)
      .select(col(idCol),
        org.apache.spark.sql.GraftColumnBridge.column(
          graft.expressions.MinhashSig(
            org.apache.spark.sql.GraftColumnBridge.expression(
              col("__shraw")), k)).as("__mins"))
      .select(col(idCol) +:
        (0 until k).map(p => get(col("__mins"), lit(p)).as(s"h$p")): _*)
    val bandStructs = (0 until bands).map { b =>
      val cols = (0 until rowsPerBand)
        .map(r => col(s"h${rowsPerBand * b + r}").cast("string"))
      struct(lit(b).as("band_id"),
        md5(concat_ws(",", cols: _*)).as("band_hash"))
    }
    sig.select(col(idCol), explode(array(bandStructs: _*)).as("bd"))
      .select(col(idCol), col("bd.band_id").as("band_id"),
        col("bd.band_hash").as("band_hash"))
  }

  /** Banded MinHash signature: one md5 per shingle, all `k` affine
    * permutation minima in ONE sequential fold, bands derived by a
    * single explode — (id, band_id, band_hash) rows.
    * `k` must divide into `bands` equal rows-per-band groups. */
  def minhashBands(df: DataFrame, idCol: String, textCol: String,
      k: Int, bands: Int): DataFrame =
    minhashBandsFromShingles(rawShingles(df, idCol, textCol), idCol,
      k, bands)

  /** 32-bit SimHash signature: per-token 32-bit hash, one ±1 vote per
    * bit weighted by term frequency (tokens kept non-distinct), sign
    * of the vote sum becomes the bit. One narrow shuffle on the id;
    * map-side partial aggregation keeps it thin.
    *
    * Equals the low 32 bits of [[simhash64]] (same per-token base
    * hash) — kept for narrow-vocabulary corpora and the spec that
    * pins that containment property. */
  def simhash32(df: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashSig(df, idCol, textCol, bits = 32)

  /** 64-bit SimHash signature — the standard web-scale setting: twice
    * the bit budget means the signature stops saturating on large
    * vocabularies and the classic hamming radius 3 applies without
    * per-corpus tuning. Bits 0–31 vote on the first md5 half
    * (identical to [[simhash32]]), bits 32–63 on the second. */
  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashSig(df, idCol, textCol, bits = 64)

  private def simhashSig(df: DataFrame, idCol: String, textCol: String,
      bits: Int): DataFrame = {
    val toks = df.select(col(idCol),
      explode(TextOps.tokens(col(textCol))).as("__tok"))
      .withColumn("__hv", TextOps.tokenHash32(col("__tok")))
    val withHi =
      if (bits <= 32) toks
      else toks.withColumn("__hv2", TextOps.tokenHash32b(col("__tok")))
    val bitAggs = (0 until bits).map { j =>
      val src = if (j < 32) col("__hv") else col("__hv2")
      sum(when(shiftright(src, j % 32).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"b$j")
    }
    val votes = withHi.groupBy(idCol).agg(bitAggs.head, bitAggs.tail: _*)
    // distinct powers of two: partial sums peak at 2^63-1 then the
    // sign bit's Long.MinValue term lands last — no overflow, and the
    // wrap-free order is mirrored by the oracle's left-assoc chain
    val sig = (0 until bits).map(j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)
    votes.select(col(idCol), sig.as("simhash"))
  }

  /** Band the 64-bit simhash into `bands` buckets for candidate
    * generation — two docs within small hamming distance share at
    * least one unchanged band with high probability (guaranteed when
    * hamming < bands, by pigeonhole). Output is
    * [[candidatePairsCarrying]]' (id, band_id, band_hash) shape with
    * the full `simhash` kept as payload, so the verify stage never
    * recomputes the signature. */
  def simhashBands(sigs: DataFrame, idCol: String,
      bands: Int = 4): DataFrame = {
    require(bands > 0 && 64 % bands == 0)
    val width = 64 / bands
    val mask = (1L << width) - 1
    val bandStructs = (0 until bands).map(b =>
      struct(lit(b).as("band_id"),
        shiftright(col("simhash"), width * b).bitwiseAND(mask)
          .cast("string").as("band_hash")))
    sigs.select(col(idCol), col("simhash"),
      explode(array(bandStructs: _*)).as("bd"))
      .select(col(idCol), col("bd.band_id").as("band_id"),
        col("bd.band_hash").as("band_hash"), col("simhash"))
  }

  /** Paired-block simhash banding (the Manku/Jain/Sarma WWW'07 trick,
    * generalized): split the 64-bit signature into `maxHamming + 2`
    * blocks and key one table on every block PAIR — C(m+2, 2) tables
    * of ~2·(64/(m+2))-bit keys instead of m+1 tables of 64/(m+1)-bit
    * keys. Recall guarantee is identical (≤ m flipped bits dirty at
    * most m of m+2 blocks, so some pair of clean blocks — i.e. some
    * table — still collides), but the near-doubled key width
    * quadratically suppresses CHANCE collisions: on low-entropy
    * corpora (narrow vocabulary → correlated signature bits) distinct
    * signatures share a 16-bit quarter by the million, and every such
    * bucket cliques into verify-then-fail pairs. Measured on the 10×
    * pathology corpus this was the t18 cost driver. ~2.5× more band
    * rows per doc (10 vs 4 at m=3) is the price — band rows are three
    * narrow columns, the cheapest frame in the pipeline.
    *
    * For m=3 (the classic radius): 5 blocks of 13/13/13/13/12 bits,
    * 10 tables keyed on ~25-bit block pairs. */
  def simhashBandsPaired(sigs: DataFrame, idCol: String,
      maxHamming: Int = 3, carry: Seq[String] = Nil): DataFrame = {
    require(maxHamming >= 1 && maxHamming <= 6,
      s"maxHamming=$maxHamming out of the supported 1..6 band-scheme range")
    val blocks = maxHamming + 2
    // block b covers [off(b), off(b+1)): base width + one spare bit
    // for the first (64 % blocks) blocks
    val base = 64 / blocks
    val extra = 64 % blocks
    def width(b: Int): Int = base + (if (b < extra) 1 else 0)
    def off(b: Int): Int = (0 until b).map(width).sum
    def blockVal(b: Int): Column = {
      val w = width(b)
      // >>> then mask: the top block's sign bits must not smear
      val shifted =
        if (off(b) == 0) col("simhash")
        else shiftrightunsigned(col("simhash"), off(b))
      shifted.bitwiseAND(lit((1L << w) - 1))
    }
    val pairs = for {
      i <- 0 until blocks
      j <- (i + 1) until blocks
    } yield (i, j)
    val bandStructs = pairs.zipWithIndex.map { case ((i, j), t) =>
      // pack the two block values into one long key: i's value in the
      // high bits, j's in the low — widths are fixed per (i, j), so
      // the packing is injective
      struct(lit(t).as("band_id"),
        (blockVal(i) * lit(1L << width(j)) + blockVal(j))
          .cast("string").as("band_hash"))
    }
    sigs.select(Seq(col(idCol), col("simhash")) ++ carry.map(col) :+
        explode(array(bandStructs: _*)).as("bd"): _*)
      .select(Seq(col(idCol), col("bd.band_id").as("band_id"),
        col("bd.band_hash").as("band_hash"), col("simhash")) ++
        carry.map(col): _*)
  }

  /** [[candidatePairs]] variant that carries a narrow per-id payload
    * column through the pair expansion — (d1, d2, p1, p2) — so the
    * verify stage can run directly on the pairs instead of re-joining
    * (and re-computing) the signature frame. Only worth it when the
    * payload is a scalar; wide payloads (shingle sets) should re-join. */
  def candidatePairsCarrying(bandsDf: DataFrame, idCol: String,
      payloadCol: String, maxBucket: Int = 1024): DataFrame = {
    require(maxBucket > 1)
    import org.apache.spark.sql.expressions.Window
    val keys = Seq("band_id", "band_hash")
    val w = Window.partitionBy(keys.map(col): _*)
    val sized = bandsDf
      .withColumn("__bsz", count(lit(1)).over(w))
      .withColumn("__hub", min(col(idCol)).over(w))
      .withColumn("__hubp", min_by(col(payloadCol), col(idCol)).over(w))
    val clique = sized
      .filter(col("__bsz") > 1 && col("__bsz") <= maxBucket)
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(
        struct(col(idCol).as("i"), col(payloadCol).as("p")))).as("ds"))
      .select(explode(expr(
        """flatten(transform(ds, (x, i) ->
          |  transform(slice(ds, i + 2, size(ds)), y ->
          |    struct(x.i AS d1, y.i AS d2, x.p AS p1, y.p AS p2))))"""
          .stripMargin)).as("pr"))
      .filter(col("pr.d1") < col("pr.d2"))
      .select(col("pr.d1").as("d1"), col("pr.d2").as("d2"),
        col("pr.p1").as("p1"), col("pr.p2").as("p2"))
    val star = sized
      .filter(col("__bsz") > maxBucket && col(idCol) =!= col("__hub"))
      .select(col("__hub").as("d1"), col(idCol).as("d2"),
        col("__hubp").as("p1"), col(payloadCol).as("p2"))
    clique.unionByName(star).dropDuplicates("d1", "d2")
  }

  /** Remove SimHash near-duplicates: candidates from shared
    * paired-block tables ([[simhashBandsPaired]] — recall-equivalent
    * to quarter bands at radius `maxHamming`, with quadratically
    * fewer chance collisions), verified by hamming distance <=
    * `maxHamming` on the full 64-bit signatures (carried through the
    * pair expansion — the signature aggregation runs exactly once),
    * smaller id survives.
    * Same guard/policy story as [[dedupByMinhash]]; SimHash trades
    * MinHash's set-overlap estimate for a weighted-token distance that
    * is cheaper per doc (no shingle explosion) and catches small edits.
    *
    * `maxHamming = 3` is the classic 64-bit web-scale radius and the
    * default here; a 64-bit signature does not saturate the way the
    * old 32-bit one did, so the radius no longer needs per-corpus
    * tightening.
    *
    * Identical-signature classes collapse BEFORE banding: a hamming-0
    * duplicate needs no candidate generation or verify, and at corpus
    * scale mass-duplication is exactly what blows band buckets up —
    * a 2048-copy document contributes 2048·(2048-1)/2 clique pairs
    * per shared bucket expanded, ONE representative collapsed. The
    * collapse itself loses nothing: for any removed member m of class
    * A, either m ≠ min(A) (dropped against its identical rep) or a
    * smaller doc d exists with hamming ≤ radius, and d's class rep —
    * which is ≤ d and carries the same signature — forms the
    * same-banded pair with rep(A). Because buckets shrink to distinct
    * signatures, the hub-star guard also fires less often, so results
    * can differ from the pre-collapse operator exactly where that
    * guard was approximating (more true pairs verified, never fewer). */
  def dedupBySimhash(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 1024): DataFrame =
    dedupBySignatureFrame(df, simhash64(df, idCol, textCol), idCol,
      maxHamming, maxBucket)

  /** [[dedupBySimhash]] over an EXISTING 64-bit signature column —
    * the signature modality changes, the collapse/band/verify/survivor
    * machinery does not. This is how non-text modalities join the
    * near-dup family: e.g. perceptual image hashes
    * ([[graft.functions.ImageOps.dHash]] over decoded pixels) ride the
    * same paired-block banding, hamming verify, and smaller-id-wins
    * policy as text SimHash (the t73 gate proves the composed image
    * pipeline against a brute-force oracle). */
  def dedupBySignature(df: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int = 3, maxBucket: Int = 1024): DataFrame =
    dedupBySignatureFrame(df,
      df.select(col(idCol), col(sigCol).as("simhash")), idCol,
      maxHamming, maxBucket)

  /** TWO-SIGNATURE near-dup dedup: drop a row only when BOTH 64-bit
    * perceptual signatures agree it duplicates a smaller-id row —
    * hamming(A) ≤ maxHamA AND hamming(B) ≤ maxHamB. Complementary
    * signatures (dHash's local gradients + whtHash's global
    * structure) fail on DIFFERENT image pairs, so requiring
    * agreement cuts the false-positive collapses either signature
    * commits alone — the precision move for destructive dedup at
    * corpus scale, where a single over-eager 64-bit hash family can
    * fold unrelated content classes together.
    *
    * Recall is inherited from signature A: candidates come from A's
    * paired-block bands (recall-complete for hamming(A) ≤ maxHamA,
    * and any pair passing BOTH radii passes A's), signature B rides
    * the banding as a carried column and is only consulted at
    * verify — no second banding pass, no extra shuffle vs the
    * single-signature operator. Identical-(A,B) classes collapse
    * before banding as usual; smaller id survives. */
  def dedupBySignaturePair(df: DataFrame, idCol: String,
      sigACol: String, sigBCol: String, maxHamA: Int = 3,
      maxHamB: Int = 3, maxBucket: Int = 1024): DataFrame = {
    // PERSIST the narrow (id, sigA, sigB) frame: the caller's
    // signature COLUMNS are usually expensive expression chains
    // (image decode → dHash/WHT folds), and this operator references
    // the frame from three sub-trees (reps, the identical-twin join,
    // the band tables). Unpersisted, CollapseProject re-derives the
    // signature expressions at every reference — the r8 10× bench
    // measured t109 at 225 s collapsed vs ~15 s materialized; the
    // frame itself is 3 scalars/row. CacheRegistry discipline as in
    // dedupByContainmentIncremental.
    val sigs = graft.CacheRegistry.track(
      df.select(col(idCol), col(sigACol).as("simhash"),
        col(sigBCol).as("__sigb"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    val reps = sigs.groupBy("simhash", "__sigb")
      .agg(min(col(idCol)).as(idCol))
    val removedIdentical = sigs
      .join(reps.withColumnRenamed(idCol, "__rep"),
        Seq("simhash", "__sigb"))
      .filter(col(idCol) =!= col("__rep"))
      .select(col(idCol))
    val bands = simhashBandsPaired(reps, idCol, maxHamA,
      carry = Seq("__sigb"))
      .withColumn("__pl",
        struct(col("simhash").as("a"), col("__sigb").as("b")))
    val verified = candidatePairsCarrying(bands, idCol, "__pl",
      maxBucket)
      .filter(
        bit_count(col("p1.a").bitwiseXOR(col("p2.a"))) <= maxHamA &&
        bit_count(col("p1.b").bitwiseXOR(col("p2.b"))) <= maxHamB)
    val removed = verified.select(col("d2").as(idCol))
      .unionByName(removedIdentical).distinct()
    df.join(removed, Seq(idCol), "left_anti")
  }

  /** Shared core: `sigs` is (idCol, simhash). Identical-signature
    * classes collapse before banding (see [[dedupBySimhash]] doc),
    * candidates come from recall-complete paired-block tables,
    * verification is a bit_count on the carried signatures, smaller
    * id survives. */
  private def dedupBySignatureFrame(df: DataFrame, sigs: DataFrame,
      idCol: String, maxHamming: Int, maxBucket: Int): DataFrame = {
    // same materialization argument as dedupBySignaturePair: sigs is
    // referenced by reps, the twin join, and the bands — persist the
    // narrow frame so signature expression chains evaluate once
    val sigsP = graft.CacheRegistry.track(
      sigs.persist(StorageLevel.MEMORY_AND_DISK))
    val reps = sigsP.groupBy("simhash").agg(min(col(idCol)).as(idCol))
    val removedIdentical = sigsP
      .join(reps.withColumnRenamed(idCol, "__rep"), "simhash")
      .filter(col(idCol) =!= col("__rep"))
      .select(col(idCol))
    val verified = candidatePairsCarrying(
      simhashBandsPaired(reps, idCol, maxHamming), idCol, "simhash",
      maxBucket)
      .filter(bit_count(col("p1").bitwiseXOR(col("p2"))) <= maxHamming)
    val removed = verified.select(col("d2").as(idCol))
      .unionByName(removedIdentical).distinct()
    df.join(removed, Seq(idCol), "left_anti")
  }

  /** Multi-table sign-random-projection bands for embedding vectors:
    * `tables` independent hash tables of `planesPerTable` hyperplane
    * sign bits each (deterministic weights — VectorOps.lshWeight).
    * More tables → higher recall; fewer planes → bigger buckets.
    * Output matches [[candidatePairs]]' (id, band_id, band_hash). */
  def embeddingBands(df: DataFrame, idCol: String, vecCol: String,
      dims: Int, tables: Int, planesPerTable: Int): DataFrame = {
    require(tables > 0 && planesPerTable > 0 && planesPerTable <= 30)
    val bandStructs = (0 until tables).map { t =>
      val bits = (0 until planesPerTable).map { j =>
        val p = t * planesPerTable + j
        val w = array((0 until dims)
          .map(i => lit(VectorOps.lshWeight(p, i).toDouble)): _*)
        when(VectorOps.dot(col(vecCol), w) > 0, lit(1L << j))
          .otherwise(lit(0L))
      }
      struct(lit(t).as("band_id"),
        bits.reduce(_ + _).cast("string").as("band_hash"))
    }
    df.select(col(idCol), explode(array(bandStructs: _*)).as("bd"))
      .select(col(idCol), col("bd.band_id").as("band_id"),
        col("bd.band_hash").as("band_hash"))
  }

  /** Collapse identical-vector classes before SRP banding — the
    * embedding twin of [[collapseExactClasses]]: identical vectors
    * have cosine 1 and identical table signatures, so members drop
    * against their class rep exactly. Zero-norm vectors are exempt
    * (cosine is undefined on them — they never verify, and identical
    * copies of them must keep surviving). */
  private def collapseExactVectors(df: DataFrame, idCol: String,
      vecCol: String): (DataFrame, DataFrame) = {
    val eligible = df.filter(VectorOps.norm(col(vecCol)) > 0)
    val reps = eligible.groupBy(col(vecCol))
      .agg(min(col(idCol)).as("__rep"))
    val removedExact = eligible.join(reps, vecCol)
      .filter(col(idCol) =!= col("__rep"))
      .select(col(idCol))
    (df.join(removedExact, Seq(idCol), "left_anti"), removedExact)
  }

  /** Verified (exact cosine >= threshold) near-dup pairs (d1, d2) over
    * embedding vectors — LSH-prefiltered, never corpus × corpus. */
  private def verifiedEmbeddingPairs(df: DataFrame, idCol: String,
      vecCol: String, threshold: Double, dims: Int, tables: Int,
      planesPerTable: Int, maxBucket: Int): DataFrame = {
    val cands = candidatePairs(
      embeddingBands(df, idCol, vecCol, dims, tables, planesPerTable),
      idCol, maxBucket)
    val e = df.select(col(idCol), col(vecCol))
      .withColumn("__n", VectorOps.norm(col(vecCol)))
    cands
      .join(e.select(col(idCol).as("d1"), col(vecCol).as("__v1"),
        col("__n").as("__n1")), "d1")
      .join(e.select(col(idCol).as("d2"), col(vecCol).as("__v2"),
        col("__n").as("__n2")), "d2")
      .filter(VectorOps.cosine(col("__v1"), col("__v2"),
        col("__n1"), col("__n2")) >= threshold)
      .select(col("d1"), col("d2"))
  }

  /** Remove embedding near-duplicates: candidates from any shared
    * LSH-table bucket, verified by exact cosine >= `threshold`,
    * smaller id survives — the embedding member of the dedup family
    * (the exact pairwise check runs ONLY behind the LSH prefilter,
    * never corpus × corpus). Same hot-bucket guard as the text path. */
  def dedupByEmbedding(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, dims: Int, tables: Int = 4,
      planesPerTable: Int = 4, maxBucket: Int = 1024): DataFrame = {
    val (repsDf, removedExact) = collapseExactVectors(df, idCol, vecCol)
    val removed = verifiedEmbeddingPairs(repsDf, idCol, vecCol,
      threshold, dims, tables, planesPerTable, maxBucket)
      .select(col("d2").as(idCol))
      .unionByName(removedExact).distinct()
    df.join(removed, Seq(idCol), "left_anti")
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication"): vectors are assigned to their nearest centroid
    * cell ([[Ann.ivfAssign]]) and exact cosine runs only WITHIN each
    * cell — pairs across cells are never priced. Smaller id survives.
    *
    * The cluster prefilter is the alternative to [[dedupByEmbedding]]'s
    * LSH tables: LSH bounds the candidate set per bucket
    * probabilistically; cells bound it geometrically (semantic near-
    * dups sit near the same centroid, so the same cell). At 100 TB the
    * recipe is nlist ≈ √N cells from a sampled [[Ann.trainCentroids]]
    * run — the per-cell quadratic is then ~N total, the pair join
    * shuffles by cell, and hot cells are AQE-split. Exact-duplicate
    * vectors are collapsed to one representative first, so a
    * mass-duplicated corpus cannot make any single cell quadratic in
    * the duplicate count. */
  def dedupBySemanticCells(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, centIdCol: String, centVecCol: String,
      threshold: Double): DataFrame = {
    val (repsDf, removedExact) = collapseExactVectors(df, idCol, vecCol)
    val assigned = Ann.ivfAssign(repsDf, idCol, vecCol, centroids,
      centIdCol, centVecCol)
      .withColumn("__nrm", VectorOps.norm(col(vecCol)))
    val a = assigned.select(col(idCol).as("__id1"),
      col(vecCol).as("__v1"), col("cell"), col("__nrm").as("__n1"))
    val b = assigned.select(col(idCol).as("__id2"),
      col(vecCol).as("__v2"), col("cell"), col("__nrm").as("__n2"))
    val removedSem = a.join(b, Seq("cell"))
      .filter(col("__id1") < col("__id2"))
      .filter(VectorOps.cosine(col("__v1"), col("__v2"),
        col("__n1"), col("__n2")) >= threshold)
      .select(col("__id2").as(idCol))
    df.join(removedSem.unionByName(removedExact).distinct(),
      Seq(idCol), "left_anti")
  }

  /** Incremental twin of [[dedupBySemanticCells]] — the daily-append
    * pattern for embeddings: `incoming` vectors are deduped against an
    * EXISTING corpus whose (id, vector, cell) index was materialized
    * by a previous run ([[Ann.ivfAssign]] output persisted as a table;
    * assignments are computed once per vector, ever, against the
    * shared `centroids` asset) and against smaller-id incoming
    * vectors. Existing vectors are canonical and always win — same
    * policy as [[dedupByMinhashIncremental]].
    *
    * Returns incoming survivors; the caller appends their assignments
    * to the index table. Cosine is priced only within a cell on both
    * paths, and only incoming × (existing ∪ incoming) — the
    * historical corpus never self-joins. */
  def dedupBySemanticCellsIncremental(incoming: DataFrame, idCol: String,
      vecCol: String, existingIndex: DataFrame, centroids: DataFrame,
      centIdCol: String, centVecCol: String,
      threshold: Double): DataFrame = {
    val (repsDf, removedExact) = collapseExactVectors(incoming, idCol,
      vecCol)
    val inA = Ann.ivfAssign(repsDf, idCol, vecCol, centroids,
      centIdCol, centVecCol)
      .withColumn("__nrm", VectorOps.norm(col(vecCol)))
    val i1 = inA.select(col(idCol).as("__id1"), col(vecCol).as("__v1"),
      col("cell"), col("__nrm").as("__n1"))
    val i2 = inA.select(col(idCol).as("__id2"), col(vecCol).as("__v2"),
      col("cell"), col("__nrm").as("__n2"))
    val ex = existingIndex.select(col(idCol).as("__xid"),
      col(vecCol).as("__xv"), col("cell"))
      .withColumn("__xn", VectorOps.norm(col("__xv")))
    val crossRemoved = i2.join(ex, Seq("cell"))
      // __id2 =!= __xid: same self-pair guard as the containment
      // incremental — an id meets ITSELF across the sides only when a
      // crash-replay left its assignment row in the index without its
      // corpus row; cosine(v, v) = 1 would drop the doc forever. Real
      // incoming/existing ids are disjoint, so this is replay-heal
      // only (spec-pinned via semanticCellsStream).
      .filter(col("__id2") =!= col("__xid"))
      .filter(VectorOps.cosine(col("__v2"), col("__xv"),
        col("__n2"), col("__xn")) >= threshold)
      .select(col("__id2").as(idCol))
    val inRemoved = i1.join(i2, Seq("cell"))
      .filter(col("__id1") < col("__id2"))
      .filter(VectorOps.cosine(col("__v1"), col("__v2"),
        col("__n1"), col("__n2")) >= threshold)
      .select(col("__id2").as(idCol))
    incoming.join(
      crossRemoved.unionByName(inRemoved).unionByName(removedExact)
        .distinct(),
      Seq(idCol), "left_anti")
  }

  /** Embedding twin of [[dedupByComponents]]: the verified-cosine pair
    * graph collapsed to components, exactly one vector (min id) per
    * component survives. */
  def dedupByEmbeddingComponents(df: DataFrame, idCol: String,
      vecCol: String, threshold: Double, dims: Int, tables: Int = 4,
      planesPerTable: Int = 4, maxBucket: Int = 1024): DataFrame = {
    val (repsDf, removedExact) = collapseExactVectors(df, idCol, vecCol)
    val comps = connectedComponents(
      verifiedEmbeddingPairs(repsDf, idCol, vecCol, threshold, dims,
        tables, planesPerTable, maxBucket), "d1", "d2")
    val removed = comps.filter(col("component") < col("id"))
      .select(col("id").as(idCol))
      .unionByName(removedExact).distinct()
    df.join(removed, Seq(idCol), "left_anti")
  }

  /** LSH buckets larger than `maxBucket` — the overflow diagnostic to
    * log/alert on alongside a guarded run. */
  def oversizedBuckets(bandsDf: DataFrame, maxBucket: Int): DataFrame =
    bandsDf.groupBy("band_id", "band_hash")
      .agg(count(lit(1)).as("bucket_size"))
      .filter(col("bucket_size") > maxBucket)

  /** Candidate pairs (d1 < d2) from banded signatures, bucket-local,
    * with the hot-bucket guard (see object doc). Normal buckets expand
    * to their full clique; buckets above `maxBucket` contribute
    * hub-star pairs only.
    *
    * Bucket size and hub come from ONE unordered window pass over the
    * (band_id, band_hash) shuffle — a self-join against a size
    * aggregate would evaluate the (md5-heavy) signature subtree twice;
    * the two filter branches below share the window's exchange, which
    * AQE reuses. The groupBy for clique expansion runs on the same
    * keys, so it adds no second shuffle of the signatures. */
  def candidatePairs(bandsDf: DataFrame, idCol: String,
      maxBucket: Int = 1024): DataFrame = {
    require(maxBucket > 1)
    import org.apache.spark.sql.expressions.Window
    val keys = Seq("band_id", "band_hash")
    val w = Window.partitionBy(keys.map(col): _*)
    val sized = bandsDf
      .withColumn("__bsz", count(lit(1)).over(w))
      .withColumn("__hub", min(col(idCol)).over(w))
    val clique = sized
      .filter(col("__bsz") > 1 && col("__bsz") <= maxBucket)
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(col(idCol))).as("ds"))
      .select(explode(expr(
        """flatten(transform(ds, (x, i) ->
          |  transform(slice(ds, i + 2, size(ds)), y ->
          |    struct(x AS d1, y AS d2))))""".stripMargin)).as("p"))
      // strict <: duplicate ids in one bucket must not emit a self-pair
      .filter(col("p.d1") < col("p.d2"))
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"))
    val star = sized
      .filter(col("__bsz") > maxBucket && col(idCol) =!= col("__hub"))
      .select(col("__hub").as("d1"), col(idCol).as("d2"))
    clique.unionByName(star).distinct()
  }

  /** Guarded cross-corpus candidate pairs (in_id, ex_id): incoming vs
    * existing band rows sharing a bucket.
    *
    *  - existing-side bucket stats are computed ONLY over buckets the
    *    delta touches (semi-join pruned) — per-run cost ∝ delta, not
    *    corpus, honoring the compute-once-per-document contract;
    *  - BOTH sides hub-collapse above `maxBucket`: a degenerate
    *    incoming batch (the mass-duplication pathology) contributes
    *    its bucket-min only — its other members reach the same
    *    verdict transitively through the in-batch star pairs — so
    *    crossPairs stays O(delta), never O(n·m). */
  private def crossCandidates(inBands: DataFrame, existingBands: DataFrame,
      idCol: String, maxBucket: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keys = Seq("band_id", "band_hash")
    val w = Window.partitionBy(keys.map(col): _*)
    def side(bands: DataFrame, as: String): DataFrame =
      bands
        .withColumn("__bsz", count(lit(1)).over(w))
        .withColumn("__hub", min(col(idCol)).over(w))
        .filter(col("__bsz") <= maxBucket || col(idCol) === col("__hub"))
        .select(col(idCol).as(as), col("band_id"), col("band_hash"))
    val touchedEx = existingBands.join(
      inBands.select(keys.map(col): _*).distinct(), keys, "left_semi")
    side(inBands, "in_id").join(side(touchedEx, "ex_id"), keys)
      .select(col("in_id"), col("ex_id")).distinct()
  }

  /** [[crossCandidates]] variant that carries a narrow per-id payload
    * column through the cross expansion — (in_id, ex_id, __p_in_id,
    * __p_ex_id) — so a signature-verifiable family (SimHash) never
    * re-joins its signatures. Same both-sides hub guard and
    * touched-bucket pruning. */
  private def crossCandidatesCarrying(inBands: DataFrame,
      existingBands: DataFrame, idCol: String, payloadCol: String,
      maxBucket: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keys = Seq("band_id", "band_hash")
    val w = Window.partitionBy(keys.map(col): _*)
    def side(bands: DataFrame, as: String): DataFrame =
      bands
        .withColumn("__bsz", count(lit(1)).over(w))
        .withColumn("__hub", min(col(idCol)).over(w))
        .filter(col("__bsz") <= maxBucket || col(idCol) === col("__hub"))
        .select(col(idCol).as(as), col(payloadCol).as(s"__p_$as"),
          col("band_id"), col("band_hash"))
    val touchedEx = existingBands.join(
      inBands.select(keys.map(col): _*).distinct(), keys, "left_semi")
    side(inBands, "in_id").join(side(touchedEx, "ex_id"), keys)
      // a document is never a duplicate of ITSELF: after a crash
      // between the band-index write and the corpus append, a
      // replayed batch sees its own survivors' GHOST band rows on the
      // existing side — a hamming-0 self-match here would silently
      // drop those survivors forever (bands rewritten empty, corpus
      // never appended). In the normal path the corpus anti-join
      // makes same-id pairs impossible, so this filter only ever
      // removes ghosts.
      .filter(col("in_id") =!= col("ex_id"))
      .select(col("in_id"), col("ex_id"),
        col("__p_in_id"), col("__p_ex_id")).distinct()
  }

  /** Incremental SimHash dedup — the SimHash member of the
    * incremental family: dedup `incoming` against itself AND an
    * existing corpus whose paired-block band table
    * ([[simhashBandsPaired]] output, `simhash` payload included) was
    * materialized by a previous run. Existing documents are canonical
    * and always win; an incoming document is dropped if its 64-bit
    * signature is within `maxHamming` of ANY existing signature or of
    * a smaller-id incoming signature.
    *
    * State shape: band rows already carry the full signature, so
    * verification is a bit_count on the candidate rows themselves —
    * no text, no re-join, nothing but the band table is ever read
    * from the existing side (contrast [[dedupByMinhashIncremental]],
    * which must re-shingle candidate existing DOCS because minhash
    * signatures cannot verify exactly). Candidate generation is
    * guarded on both sides and pruned to touched buckets
    * ([[crossCandidatesCarrying]]) — per-run join cost ∝ delta.
    *
    * Returns incoming survivors; the caller appends
    * `simhashBandsPaired(simhash64(survivors))` to the band table. */
  def dedupBySimhashIncremental(incoming: DataFrame, idCol: String,
      textCol: String, existingBands: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = 1024): DataFrame =
    dedupBySignatureIncrementalFrame(incoming,
      simhash64(incoming, idCol, textCol), idCol, existingBands,
      maxHamming, maxBucket)

  /** [[dedupBySimhashIncremental]] over an EXISTING 64-bit signature
    * column — the incremental member of the signature-generic family
    * ([[dedupBySignature]]'s amortized-corpus sibling): daily appends
    * of image dHashes ([[graft.functions.ImageOps.dHash]]) or audio
    * fingerprints ([[graft.functions.AudioOps.audioFingerprint]])
    * dedup against a materialized band index with the same
    * existing-wins / smaller-id policy as text SimHash (the t78 gate
    * proves the composed incremental image pipeline). Build and
    * append the index with [[signatureBands]]. */
  def dedupBySignatureIncremental(incoming: DataFrame, idCol: String,
      sigCol: String, existingBands: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = 1024): DataFrame =
    dedupBySignatureIncrementalFrame(incoming,
      incoming.select(col(idCol), col(sigCol).as("simhash")), idCol,
      existingBands, maxHamming, maxBucket)

  /** Paired-block band table for ANY 64-bit signature column — the
    * index-building half of [[dedupBySignatureIncremental]]'s
    * contract (band rows carry the signature as payload, so the
    * existing side never needs its media or text re-read). */
  def signatureBands(df: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int = 3): DataFrame =
    simhashBandsPaired(df.select(col(idCol), col(sigCol).as("simhash")),
      idCol, maxHamming)

  private def dedupBySignatureIncrementalFrame(incoming: DataFrame,
      sigs: DataFrame, idCol: String, existingBands: DataFrame,
      maxHamming: Int, maxBucket: Int): DataFrame = {
    // r13: the signature frame is referenced by reps AND the
    // identical-twin join, and the band table by the in-batch pass
    // AND both sides of the cross-candidate pruning — unpersisted,
    // CollapseProject re-derived the (md5-heavy) signature expression
    // chain once per reference (3-4 signature evaluations of the
    // batch per action, measured on t26's stage profile). Both frames
    // are narrow and batch-bounded; CacheRegistry discipline.
    val sigsP = graft.CacheRegistry.track(
      sigs.persist(StorageLevel.MEMORY_AND_DISK))
    // identical in-batch signatures collapse first (see dedupBySimhash)
    val reps = sigsP.groupBy("simhash").agg(min(col(idCol)).as(idCol))
    val removedIdentical = sigsP
      .join(reps.withColumnRenamed(idCol, "__rep"), "simhash")
      .filter(col(idCol) =!= col("__rep"))
      .select(col(idCol))
    val inBands = graft.CacheRegistry.track(
      simhashBandsPaired(reps, idCol, maxHamming)
        .persist(StorageLevel.MEMORY_AND_DISK))
    val removedVsIncoming = candidatePairsCarrying(inBands, idCol,
      "simhash", maxBucket)
      .filter(bit_count(col("p1").bitwiseXOR(col("p2"))) <= maxHamming)
      .select(col("d2").as(idCol))
    val removedVsExisting = crossCandidatesCarrying(inBands,
      existingBands, idCol, "simhash", maxBucket)
      .filter(bit_count(col("__p_in_id").bitwiseXOR(col("__p_ex_id")))
        <= maxHamming)
      .select(col("in_id").as(idCol))
    incoming.join(
      removedVsExisting.unionByName(removedVsIncoming)
        .unionByName(removedIdentical).distinct(),
      Seq(idCol), "left_anti")
  }

  /** Incremental near-dup: dedup `incoming` against itself AND an
    * existing corpus whose banded signatures were materialized by a
    * previous run ([[minhashBands]] output persisted as a table — the
    * daily-append pattern: signatures are computed once per document,
    * ever). Existing documents are canonical and always win; an
    * incoming document is dropped if it verifies against ANY existing
    * document or against a smaller-id incoming document.
    *
    * `existingDocs` supplies text for verification — it is semi-join
    * pruned to the candidate ids first, so only matched documents are
    * ever shingled, not the historical corpus. Candidate generation is
    * guarded on both sides ([[crossCandidates]]).
    *
    * Returns incoming survivors; the caller appends their bands to the
    * band table and their rows to the corpus. */
  def dedupByMinhashIncremental(incoming: DataFrame, idCol: String,
      textCol: String, existingBands: DataFrame, existingDocs: DataFrame,
      threshold: Double, k: Int = 12, bands: Int = 4,
      maxBucket: Int = 1024): DataFrame = {
    // compute-once: the incoming shingle frame is persisted and feeds
    // the signature, the cross verify, AND both sides of the in-batch
    // verify (see dedupByMinhash — same lifecycle). Exact-text classes
    // collapse first: a member is an in-batch J=1 duplicate of its
    // smaller-id rep by construction, so dropping it up front is the
    // original policy's verdict — and a mass-duplicated incoming batch
    // (the streaming drain's common pathology) stops cliquing in the
    // band buckets.
    // r13: registry-tracked instead of try/finally-unpersist + eager
    // count — the count was a full extra job and a driver BARRIER in
    // the middle of the operator (nothing after it could be scheduled
    // until the whole removed-set DAG drained). Tracked caches live
    // until the caller's action finishes: Bench/Verify release between
    // queries, streaming drivers at batch end. Still MEMORY_AND_DISK —
    // a corpus-sized frame spills, never OOMs.
    val inShRaw = graft.CacheRegistry.track(
      rawShingles(incoming, idCol, textCol)
        .persist(StorageLevel.MEMORY_AND_DISK))
    locally {
      val (shReps, removedExactIn) = collapseExactClasses(inShRaw, idCol)
      // r13: the band table is referenced by the in-batch candidate
      // pass AND both sides of the cross-candidate pruning; each
      // unpersisted reference re-ran the 12-minhash transform over
      // the batch (t27's stage profile showed the band map stage
      // repeated). Narrow (id, band_id, band_hash), batch-bounded.
      val inBands = graft.CacheRegistry.track(
        minhashBandsFromShingles(shReps, idCol, k, bands)
          .persist(StorageLevel.MEMORY_AND_DISK))
      val inPairs = candidatePairs(inBands, idCol, maxBucket)
      // crossPairs fans out into exCand AND the cross verify; the r5
      // measurement ("persisting does NOT help, ReuseExchange shares
      // the shuffle") predates AQE stage-level planning — re-measured
      // r13: each reference re-ran the EXISTING side's banded
      // signature pipeline; the persisted frame is (in_id, ex_id)
      // pairs, batch-bounded.
      val crossPairs = graft.CacheRegistry.track(
        crossCandidates(inBands, existingBands, idCol, maxBucket)
          .persist(StorageLevel.MEMORY_AND_DISK))

      val inSh = shReps.select(col(idCol).as("in_id"),
        col("__shraw").as("__sh_in_id"))
        .withColumn("__sz_in", size(col("__sh_in_id")))
      // only candidate existing docs are read + shingled
      val exCand = existingDocs.join(
        crossPairs.select(col("ex_id").as(idCol)).distinct(),
        Seq(idCol), "left_semi")
      val exSh = exCand
        .withColumn("__tk", TextOps.tokens(col(textCol)))
        .select(col(idCol).as("ex_id"),
          TextOps.shingles3(col("__tk")).as("__sh_ex_id"))
        .withColumn("__sz_ex", size(col("__sh_ex_id")))

      // one set op per pair (|A∪B| = |A|+|B|−|A∩B|) behind a
      // size-ratio prefilter — see verifiedMinhashPairs
      def verify(a: String, b: String, sa: String, sb: String,
          pairs: DataFrame): DataFrame = pairs
        .filter(col(sa) >= col(sb) * threshold &&
          col(sb) >= col(sa) * threshold)
        .withColumn("__i", size(array_intersect(col(a), col(b))))
        .filter(col("__i").cast("double") /
          (col(sa) + col(sb) - col("__i")) >= threshold)
      val removedVsExisting = verify("__sh_in_id", "__sh_ex_id",
        "__sz_in", "__sz_ex",
        crossPairs.join(inSh, "in_id").join(exSh, "ex_id"))
        .select(col("in_id").as(idCol))
      val removedVsIncoming = verify("__sh1", "__sh2", "__sz1", "__sz2",
        inPairs
          .join(inSh.select(col("in_id").as("d1"),
            col("__sh_in_id").as("__sh1"), col("__sz_in").as("__sz1")), "d1")
          .join(inSh.select(col("in_id").as("d2"),
            col("__sh_in_id").as("__sh2"), col("__sz_in").as("__sz2")), "d2"))
        .select(col("d2").as(idCol))
      val removed = graft.CacheRegistry.track(
        removedVsExisting.unionByName(removedVsIncoming)
          .unionByName(removedExactIn)
          .distinct().persist(StorageLevel.MEMORY_AND_DISK))
      incoming.join(removed, Seq(idCol), "left_anti")
    }
  }

  /** Embedding twin of [[dedupByMinhashIncremental]]: dedup incoming
    * vectors against themselves and a persisted SRP-LSH band table
    * ([[embeddingBands]] output). Existing vectors win; verification
    * (exact cosine) touches only candidate existing vectors;
    * candidate generation is guarded on both sides
    * ([[crossCandidates]]). */
  def dedupByEmbeddingIncremental(incoming: DataFrame, idCol: String,
      vecCol: String, existingBands: DataFrame, existingVecs: DataFrame,
      threshold: Double, dims: Int, tables: Int = 4,
      planesPerTable: Int = 4, maxBucket: Int = 1024): DataFrame = {
    // identical incoming vectors collapse first (see
    // collapseExactVectors — a member is a cosine-1 in-batch dup of
    // its smaller-id rep)
    val (inReps, removedExactIn) = collapseExactVectors(incoming, idCol,
      vecCol)
    val inBands = embeddingBands(inReps, idCol, vecCol, dims, tables,
      planesPerTable)
    val inPairs = candidatePairs(inBands, idCol, maxBucket)
    val crossPairs = crossCandidates(inBands, existingBands, idCol,
      maxBucket)

    def normed(df: DataFrame, as: String): DataFrame =
      df.select(col(idCol).as(as), col(vecCol).as(s"__v_$as"))
        .withColumn(s"__n_$as", VectorOps.norm(col(s"__v_$as")))
    val inN = normed(inReps, "in_id")
    val exN = normed(existingVecs.join(
      crossPairs.select(col("ex_id").as(idCol)).distinct(),
      Seq(idCol), "left_semi"), "ex_id")

    val removedVsExisting = crossPairs
      .join(inN, "in_id").join(exN, "ex_id")
      .filter(VectorOps.cosine(col("__v_in_id"), col("__v_ex_id"),
        col("__n_in_id"), col("__n_ex_id")) >= threshold)
      .select(col("in_id").as(idCol))
    val removedVsIncoming = inPairs
      .join(inN.select(col("in_id").as("d1"), col("__v_in_id").as("__v1"),
        col("__n_in_id").as("__n1")), "d1")
      .join(inN.select(col("in_id").as("d2"), col("__v_in_id").as("__v2"),
        col("__n_in_id").as("__n2")), "d2")
      .filter(VectorOps.cosine(col("__v1"), col("__v2"),
        col("__n1"), col("__n2")) >= threshold)
      .select(col("d2").as(idCol))
    incoming.join(
      removedVsExisting.unionByName(removedVsIncoming)
        .unionByName(removedExactIn).distinct(),
      Seq(idCol), "left_anti")
  }

  /** Remove near-duplicates: every document with a verified
    * (exact 3-gram-shingle Jaccard >= `threshold`) duplicate of
    * smaller id is dropped; the smallest id of each duplicate group
    * survives. Returns the surviving rows of `df` unchanged.
    *
    * Compute-once contract: the shingle frame is built ONE time,
    * persisted (MEMORY_AND_DISK — spills, never recomputes the text
    * scan), and feeds both the signature and the exact verify. The
    * removed-id set is materialized eagerly while the shingles are
    * still cached, then the (tiny, id-only) set stays cached for the
    * caller's action and the wide shingle frame is released — at
    * 100 TB the corpus-sized intermediate never outlives the operator.
    * The cached id-frame is registered with [[graft.CacheRegistry]];
    * long-lived sessions call `CacheRegistry.release()` after their
    * action to drain it (releasing early only costs a recompute). */
  def dedupByMinhash(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, k: Int = 12, bands: Int = 4,
      maxBucket: Int = 1024): DataFrame = {
    // r13: registry-tracked, no eager count (see
    // dedupByMinhashIncremental — same barrier removal)
    val sh = graft.CacheRegistry.track(
      rawShingles(df, idCol, textCol)
        .persist(StorageLevel.MEMORY_AND_DISK))
    val (shReps, removedExact) = collapseExactClasses(sh, idCol)
    val removed = graft.CacheRegistry.track(
      verifiedMinhashPairs(shReps, idCol, threshold, k,
        bands, maxBucket)
        .select(col("d2").as(idCol))
        .unionByName(removedExact).distinct()
        .persist(StorageLevel.MEMORY_AND_DISK))
    df.join(removed, Seq(idCol), "left_anti")
  }

  /** Verified (exact-Jaccard >= threshold) near-dup pairs (d1 < d2)
    * over a persisted [[rawShingles]] frame — the shared tail of the
    * minhash dedup family.
    *
    * The Jaccard itself is computed with ONE set operation, not two:
    * |A∪B| = |A| + |B| − |A∩B|, with set sizes carried as ints from
    * the shingle frame — array_union built a second per-pair hash set
    * only to take its size. A size-ratio prefilter runs before the
    * intersect: J ≥ t forces t ≤ |A|/|B| ≤ 1/t, so grossly mismatched
    * pairs (the typical chance band collision) never pay for the set
    * intersection at all. */
  private def verifiedMinhashPairs(sh: DataFrame, idCol: String,
      threshold: Double, k: Int, bands: Int, maxBucket: Int): DataFrame = {
    val cands = candidatePairs(
      minhashBandsFromShingles(sh, idCol, k, bands), idCol, maxBucket)
    // __shraw is already distinct (rawShingles distincts at build) ==
    // TextOps.shingles3 (same <3-token empty-array guard inside)
    val shD = sh.select(col(idCol), col("__shraw").as("__sh"))
      .withColumn("__sz", size(col("__sh")))
    cands
      .join(shD.select(col(idCol).as("d1"), col("__sh").as("__sh1"),
        col("__sz").as("__sz1")), "d1")
      .join(shD.select(col(idCol).as("d2"), col("__sh").as("__sh2"),
        col("__sz").as("__sz2")), "d2")
      .filter(col("__sz1") >= col("__sz2") * threshold &&
        col("__sz2") >= col("__sz1") * threshold)
      .withColumn("__i",
        size(array_intersect(col("__sh1"), col("__sh2"))))
      .filter(col("__i").cast("double") /
        (col("__sz1") + col("__sz2") - col("__i")) >= threshold)
      .select(col("d1"), col("d2"))
  }

  /** Connected components over an undirected edge list — alternating
    * large-star / small-star iterated joins (the MapReduce-and-beyond
    * construction: converges in a logarithmic number of rounds on any
    * graph, unlike min-label flooding whose round count is the graph
    * DIAMETER — a 100 TB near-dup chain can be millions of hops).
    * Returns (id, component) for every node that appears in an edge,
    * component = smallest id in the node's component. Ids must be
    * numeric (cast to long). Each round is two narrow
    * (node, neighbor-min) aggregate+join passes; no adjacency list is
    * ever collected, so a hub node cannot OOM a task. Iteration state
    * is localCheckpoint'ed: the plan the executors see stays
    * round-sized instead of growing with every join.
    *
    * Throws after `maxIter` non-converged rounds (2^maxIter-node
    * chains) rather than returning a silently-partial labeling. */
  def connectedComponents(edges: DataFrame, srcCol: String,
      dstCol: String, maxIter: Int = 25): DataFrame = {
    var e = edges
      .select(col(srcCol).cast("long").as("u"),
        col(dstCol).cast("long").as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(true)
    // convergence = the edge SET is unchanged. Checked as count-equal
    // (counts carried across iterations, never recomputed) and, only
    // when counts match, an anti-join emptiness probe — both sides are
    // already-distinct checkpointed frames, so except()'s re-distinct
    // of each side would be two wasted shuffles per round
    var prevN = e.count()
    var done = prevN == 0
    var iter = 0
    while (!done && iter < maxIter) {
      // large-star: every neighbor LARGER than u attaches to the
      // minimum of u's closed neighborhood
      val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val minsL = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val ls = sym.join(minsL, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
      // small-star: orient edges large->small; u and all its smaller
      // neighbors attach to the smallest of them
      val oriented = ls.select(
        greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val minsS = oriented.groupBy("u").agg(min("v").as("m"))
      val ss = oriented.join(minsS, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(minsS.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v")).distinct()
        .localCheckpoint(true)
      val n = ss.count()
      done = n == prevN &&
        ss.join(e, Seq("u", "v"), "left_anti").isEmpty
      prevN = n
      e = ss
      iter += 1
    }
    if (!done)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds")
    // fixpoint edges are stars (node -> component root); the root
    // itself labels its own component
    e.groupBy("u").agg(min("v").as("component"))
      .select(col("u").as("id"), col("component"))
      .unionByName(
        e.select(col("v")).distinct()
          .join(e.select(col("u").as("v")).distinct(), Seq("v"), "left_anti")
          .select(col("v").as("id"), col("v").as("component")))
  }

  /** Near-dup dedup with CONNECTED-COMPONENT survivor selection: the
    * verified-pair graph is collapsed to components
    * ([[connectedComponents]]) and exactly one document — the smallest
    * id — survives per component. The alternative policy to
    * [[dedupByMinhash]]'s local keep-min-id (which keeps every locally
    * minimal doc: A~B, C~B keeps BOTH A and C; per-component exactly
    * one representative survives here). Same signature pipeline, same
    * verification, different removal set. */
  /** Near-dup component id for EVERY document: (idCol, component)
    * where component = the smallest id reachable through verified
    * near-dup pairs (exact-text classes ride their rep's closure — see
    * [[dedupByComponents]]'s collapse note; the minima coincide) and a
    * document with no near-dup is its own component. This is the
    * GROUPING key for duplication-aware decisions that must treat a
    * near-dup family as one unit — [[Sample.leakageSafeSplit]] hashes
    * it so train and eval can never split a family. */
  def componentsByMinhash(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, k: Int = 12, bands: Int = 4,
      maxBucket: Int = 1024): DataFrame = {
    // r13: registry-tracked, no eager count (see
    // dedupByMinhashIncremental — same barrier removal). The returned
    // plan references only the persisted `mapped` frame, which the
    // caller's first action materializes while `sh` is still tracked.
    val sh = graft.CacheRegistry.track(
      rawShingles(df, idCol, textCol)
        .persist(StorageLevel.MEMORY_AND_DISK))
    locally {
      val eligible = sh.filter(col("__ntk") >= 3)
      val reps = eligible.groupBy("__fp").agg(min(col(idCol)).as("__rep"))
      val exactMap = eligible.join(reps, "__fp")
        .select(col(idCol), col("__rep"))
      val shReps = sh.join(
        exactMap.filter(col(idCol) =!= col("__rep")).select(col(idCol)),
        Seq(idCol), "left_anti")
      val edges = verifiedMinhashPairs(shReps, idCol, threshold, k,
        bands, maxBucket)
      val comps = connectedComponents(edges, "d1", "d2")
        .select(col("id").as("__rep"), col("component"))
      // the narrow (id, component) map is the only frame the returned
      // plan references; persisted so repeat actions don't re-run the
      // component pass
      val mapped = graft.CacheRegistry.track(
        exactMap.join(comps, Seq("__rep"), "left")
          .select(col(idCol),
            coalesce(col("component"), col("__rep")).as("component"))
          .persist(StorageLevel.MEMORY_AND_DISK))
      df.select(col(idCol)).join(mapped, Seq(idCol), "left")
        .select(col(idCol),
          coalesce(col("component"), col(idCol)).as("component"))
    }
  }

  /** Canonical-survivor dedup: per near-dup family keep the BEST
    * member by `rankCol` (highest wins; ties → smallest id), not the
    * min-id one — the production policy ("keep the longest / highest
    * -quality copy of a page") that [[dedupByComponents]]'s min-id
    * rule approximates. Output = the surviving rows of `df` plus
    * their `component` id.
    *
    * Scale shape: family membership is [[componentsByMinhash]] (LSH
    * machinery, no corpus×corpus). The selection itself is
    * deliberately AGGREGATION-shaped — `max(struct(rank, -id))` under
    * `groupBy(component)` — not a `row_number() OVER (PARTITION BY
    * component)` window: partial aggregation combines map-side, so a
    * pathological million-member family costs one struct per task
    * upstream of the shuffle, where a window would drag every member
    * through a single unsplittable task. */
  def canonicalByMinhash(df: DataFrame, idCol: String, textCol: String,
      rankCol: String, threshold: Double, k: Int = 12, bands: Int = 4,
      maxBucket: Int = 1024): DataFrame = {
    val comps = componentsByMinhash(df, idCol, textCol, threshold, k,
      bands, maxBucket)
    val winners = df.select(col(idCol), col(rankCol))
      .join(comps, Seq(idCol))
      .groupBy(col("component"))
      .agg(max(struct(col(rankCol).as("r"),
        (-col(idCol)).as("ni"))).as("__w"))
      .select(col("component"), (-col("__w.ni")).as(idCol))
    df.join(winners, Seq(idCol))
  }

  def dedupByComponents(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, k: Int = 12, bands: Int = 4,
      maxBucket: Int = 1024): DataFrame = {
    // r13: registry-tracked, no eager count (see
    // dedupByMinhashIncremental — same barrier removal);
    // connectedComponents still materializes the edge list up front,
    // inside its own loop, while the shingle cache is live
    val sh = graft.CacheRegistry.track(
      rawShingles(df, idCol, textCol)
        .persist(StorageLevel.MEMORY_AND_DISK))
    // exact-text members collapse first (see collapseExactClasses);
    // they join their rep's component by construction, so the
    // rep-level closure projects the full closure and component
    // minima coincide (each class min IS its rep)
    val (shReps, removedExact) = collapseExactClasses(sh, idCol)
    val edges = verifiedMinhashPairs(shReps, idCol, threshold, k,
      bands, maxBucket)
    val comps = connectedComponents(edges, "d1", "d2")
    val removed = graft.CacheRegistry.track(
      comps.filter(col("component") < col("id"))
        .select(col("id").as(idCol))
        .unionByName(removedExact).distinct()
        .persist(StorageLevel.MEMORY_AND_DISK))
    df.join(removed, Seq(idCol), "left_anti")
  }

  /** DIRECTIONAL shingle containment pairs — the SUBSET-duplication
    * detector the symmetric near-dup family cannot see: an excerpt (a
    * quoted page, a syndicated fragment, a page-within-site) shares
    * nearly ALL of ITS OWN shingles with its source, but its Jaccard
    * to the source is tiny when the lengths differ 10×, so MinHash
    * banding never surfaces the pair. containment(A→B) = |A∩B| / |A|
    * (Broder's containment measure, the resemblance paper's second
    * definition — public) is the asymmetric signal.
    *
    * EXACT, via the inverted gram join: distinct (doc, shingle) rows
    * self-join on the shingle — never all-pairs; only pairs that
    * SHARE a shingle materialize, and their intersection size is the
    * join's group count — n_inter arrives as a COUNT, so nothing
    * wider than (id, id) ever shuffles and the corpus text never
    * moves. Grams themselves cross the join as fixed 16-byte
    * [[containmentGramKey]]s, never as shingle TEXT (the r9 scale
    * finding: string grams were the widest payload on the worst 10×
    * bench rows; the collision bound is on the key's scaladoc).
    * Zipf-hot shingles concentrate join buckets (AQE
    * skew-split, the t53 discipline) and sub-threshold pairs die in
    * the aggregate before the small sizes join.
    *
    * Scale note (measured at 10×): cost is dominated by TRUE OUTPUT
    * size, not candidate waste — a mass-duplicated class of k docs
    * legitimately emits k²/2 pairs (the ScaleUp pathology block's
    * 2.9M pairs), which no candidate scheme can avoid because every
    * pair is in the answer. A PPJoin-style rarest-prefix filter was
    * measured here and LOST 17×: its row-local verify must join the
    * full shingle arrays to every candidate, and shuffling arrays is
    * costlier than counting gram co-occurrences. Production recipe:
    * run exact dedup (t01) first so identical-text classes collapse
    * to one representative, then containment only pays for genuine
    * excerpt relations.
    *
    * Output: one row per unordered pair, BOTH directions reported —
    * (id_a, id_b, n_inter, n_a, n_b, cont_a, cont_b) with cont_a =
    * containment of A's shingle set in B's, rounded to 6; kept when
    * either direction reaches `tau`. Docs with fewer than 3 tokens
    * have empty shingle sets and never pair.
    *
    * HOT-GRAM GUARD (`maxDf`, default [[ContainmentMaxDfDefault]];
    * exact = opt-in [[ContainmentExhaustive]]): the gram join's
    * amplification for a gram of document frequency df is df² rows —
    * one degenerate boilerplate shingle appearing in 10⁶ docs is a
    * 10¹²-row join with no cap, the containment sibling of the
    * banded family's oversized-bucket pathology (`maxBucket`,
    * `candidatePairsCarrying`). With `maxDf` set, grams whose df
    * exceeds it are EXCLUDED from intersection counting (numerator)
    * while n_a/n_b stay the FULL set sizes — so every reported
    * containment is a LOWER BOUND of the exact value. The guard is
    * therefore strictly CONSERVATIVE for dedup: it can only MISS
    * pairs (recall loss on pairs whose overlap is mostly boilerplate,
    * logged via [[hotGrams]]), never fabricate one — guard-on dedup
    * keeps a superset of the exact run's survivors, and a hot gram's
    * join cost is capped at maxDf² instead of df². */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      tau: Double, maxDf: Int = ContainmentMaxDfDefault): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0, 1], got $tau")
    require(maxDf >= 2, s"maxDf must be >= 2, got $maxDf")
    // Candidate+verify since r12 (the witness-search machinery with
    // the killer size-filter OFF — every doc probes as a potential
    // CONTAINED side, so any pair with either direction at tau is
    // surfaced by its high direction's probes and verified exactly;
    // output equal to the materialized join by the same pigeonhole,
    // spec-asserted and t100-gated). The join-materializing form
    // stays as [[containmentPairsViaJoin]], gated by t144's sibling
    // path.
    val verified = containmentVerifiedCandidates(docs, idCol, textCol,
      tau, maxDf, killersOnly = false)
    verified
      .select(
        least(col("__x"), col("__y")).as("id_a"),
        greatest(col("__x"), col("__y")).as("id_b"),
        col("__ninter").as("n_inter"),
        when(col("__x") < col("__y"), col("__nx"))
          .otherwise(col("__ny")).as("n_a"),
        when(col("__x") < col("__y"), col("__ny"))
          .otherwise(col("__nx")).as("n_b"))
      .distinct() // a pair found from both directions collapses
      .withColumn("cont_a", round(col("n_inter") / col("n_a"), 6))
      .withColumn("cont_b", round(col("n_inter") / col("n_b"), 6))
      .filter(col("cont_a") >= tau || col("cont_b") >= tau)
      .select(col("id_a"), col("id_b"), col("n_inter"), col("n_a"),
        col("n_b"), col("cont_a"), col("cont_b"))
  }

  /** The r11 join-materializing form of [[containmentPairs]] —
    * identical output (ContainmentWitnessSpec asserts it), kept as
    * the equivalence reference; prices Σ df² below the cap. */
  private[graft] def containmentPairsViaJoin(docs: DataFrame,
      idCol: String, textCol: String, tau: Double,
      maxDf: Int = ContainmentMaxDfDefault): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0, 1], got $tau")
    require(maxDf >= 2, s"maxDf must be >= 2, got $maxDf")
    // ONE definition of "a document's shingle rows" for the whole
    // containment family (shared pre-explode helper) — batch and
    // incremental paths cannot drift, and sizes come off the arrays
    // for free instead of re-aggregating exploded gram rows
    val pre = containmentShingleFrame(docs, idCol, textCol)
    containmentPairsFromGrams(
      pre.select(col("doc_id").as("__id"),
          explode(col("__sh")).as("__gt"))
        .select(col("__id"), xxhash64(col("__gt")).as("__g1"),
          xxhash64(lit(GramKeySalt), col("__gt")).as("__g2")),
      pre.select(col("doc_id").as("__id"), col("n_grams").as("__n")),
      tau, maxDf)
  }

  /** The shared pair core behind [[containmentPairs]] and the
    * incremental in-batch pass: takes an ALREADY-HASHED gram frame
    * (__id, __g1, __g2) plus a size frame (__id, __n) so the
    * incremental path can feed its persisted index rows instead of
    * re-shingling raw text (one tokenize/shingle stage per batch, not
    * two). Only 16-byte gram keys and (id, id) count rows ever cross
    * a shuffle — and the keys travel as TWO FLAT LONG columns, not a
    * STRUCT: sorting/grouping on primitive longs stays in the
    * codegen'd fast path, where struct keys pay per-row nested
    * compare/serialize overhead (measured at 10× on t100). */
  private def containmentPairsFromGrams(gramsRaw: DataFrame,
      sizes: DataFrame, tau: Double, maxDf: Int): DataFrame = {
    // guard ON adds two more references to the gram frame (the df
    // aggregate + the anti-join) on top of the self-join's two —
    // persist the narrow capped (id, gram-key) frame so the upstream
    // chain doesn't re-derive per reference (the unpersisted
    // multi-referenced-frame landmine; guard OFF keeps the original
    // single-frame plan, where ReuseExchange shares the one shuffle)
    val grams =
      if (maxDf == ContainmentExhaustive) gramsRaw
      else graft.CacheRegistry.track(
        capGramsByDf(gramsRaw, Seq("__g1", "__g2"), maxDf)
          .persist(StorageLevel.MEMORY_AND_DISK))
    val inter = grams
      .select(col("__id").as("__ida"), col("__g1"), col("__g2"))
      .join(grams.select(col("__id").as("__idb"), col("__g1"),
        col("__g2")), Seq("__g1", "__g2"))
      .filter(col("__ida") < col("__idb"))
      .groupBy("__ida", "__idb")
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("__id").as("__ida"), col("__n").as("n_a")),
        Seq("__ida"))
      .join(sizes.select(col("__id").as("__idb"), col("__n").as("n_b")),
        Seq("__idb"))
      .withColumn("cont_a", round(col("n_inter") / col("n_a"), 6))
      .withColumn("cont_b", round(col("n_inter") / col("n_b"), 6))
      .filter(col("cont_a") >= tau || col("cont_b") >= tau)
      .select(col("__ida").as("id_a"), col("__idb").as("id_b"),
        col("n_inter"), col("n_a"), col("n_b"),
        col("cont_a"), col("cont_b"))
  }

  /** The fixed-width gram key the containment family uses instead of
    * raw shingle text (the r9 scale fix — 3-gram strings were the
    * widest thing crossing the wire on the worst 10× bench rows):
    * STRUCT<h1: BIGINT, h2: BIGINT> where h1 = XXH64(gram, seed 42)
    * and h2 = XXH64(gram, seed XXH64(salt)) — two independently
    * seeded 64-bit XXH64 evaluations, 16 bytes total, codegen'd.
    * The STRUCT is the ASSET-BOUNDARY form (the persisted index / df
    * asset schema); inside the operators every join and groupBy runs
    * on the two FLAT long columns instead — primitive sort/compare
    * stays in codegen where struct keys pay nested compare/serialize
    * per row (measured at 10×, PERF_NOTES round 10).
    *
    * Collision bound (written down, per the guard's contract): a
    * false gram-key collision needs BOTH 64-bit hashes to collide
    * for two distinct grams. Crediting the pair as an ideal 128-bit
    * hash, the expected number of colliding gram pairs among G
    * distinct grams is ~G²/2¹²⁹ — at G = 10¹³ (a 100 TB corpus'
    * 3-gram vocabulary, generously) that is ~3·10⁻¹³ expected
    * collisions. Even crediting only ONE independent 64-bit hash
    * (the two streams share the XXH64 core), G = 10¹² yields ~27 000
    * colliding gram pairs — a 3·10⁻⁸ fraction of the vocabulary,
    * which perturbs an n_inter count only when a colliding pair
    * lands inside one candidate document pair's shingle sets:
    * containment decisions at tau bands (≥ 0.7) are unaffected in
    * practice, and the direction of error is a one-count
    * OVERestimate (extra claimed intersection), bounded per pair by
    * the number of colliding grams it contains. */
  def containmentGramKey(gram: Column): Column =
    struct(xxhash64(gram).as("h1"),
      xxhash64(lit(GramKeySalt), gram).as("h2"))

  /** Seed-splitting salt for [[containmentGramKey]]'s second hash:
    * xxhash64 chains multi-argument input, so prefixing a constant
    * yields XXH64(gram) under a different effective seed. Changing
    * this string invalidates every persisted v2 gram index. */
  private val GramKeySalt = "graft-containment-h2-v2"

  /** The df cap behind `maxDf` (identity when off): rows whose gram's
    * document frequency WITHIN `grams` exceeds the cap are dropped
    * before any join. Shingle rows are distinct per doc
    * ([[graft.functions.TextOps.shingles3]] is array_distinct), so
    * count(*) per gram IS df. The hot set is bounded by
    * |gram rows| / maxDf — a map-side-combined aggregate plus an
    * anti-join, never a collect; AQE broadcasts it when small.
    * `keyCols` are the flat gram-key columns (see the pair core's
    * flat-longs note). */
  private def capGramsByDf(grams: DataFrame, keyCols: Seq[String],
      maxDf: Int): DataFrame =
    if (maxDf == ContainmentExhaustive) grams
    else grams.join(
      grams.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("__df"))
        .filter(col("__df") > maxDf).select(keyCols.map(col): _*),
      keyCols, "left_anti")

  /** Diagnostic for the [[containmentPairs]] `maxDf` guard — the
    * grams the cap would exclude, with their document frequencies
    * (the drop-with-log half of the policy, [[oversizedBuckets]]'s
    * containment sibling): inspect these to pick a cap that excises
    * boilerplate without touching informative overlap.
    *
    * Deliberately emits TEXT grams, not [[containmentGramKey]]s —
    * this is the human-inspection surface ("which boilerplate
    * sentence is hot?"), and df over text equals df over keys modulo
    * the documented collision bound. Never joined against the hashed
    * index. */
  def hotGrams(docs: DataFrame, idCol: String, textCol: String,
      maxDf: Int): DataFrame = {
    require(maxDf >= 2, s"maxDf must be >= 2, got $maxDf")
    docs.withColumn("__tk", TextOps.tokens(col(textCol)))
      .select(col(idCol).as("doc_id"),
        explode(TextOps.shingles3(col("__tk"))).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
  }

  /** Inverted gram index of a corpus — the asset
    * [[dedupByContainmentIncremental]] dedups a daily append against:
    * (doc_id, gram, n_grams) distinct rows, the historical corpus'
    * shingle sets in joinable form. Text is never stored; tomorrow's
    * batch joins this instead of re-reading history.
    *
    * ASSET SCHEMA v2: `gram` is the hashed [[containmentGramKey]]
    * STRUCT<h1, h2>, not shingle text — 16 fixed bytes per row in
    * parquet and on every shuffle. A v1 asset (gram STRING) is
    * detected at use time and refused with a pointer to
    * [[migrateContainmentIndexV1]] (keys are derived from gram text,
    * so the one-time migration is a projection, no re-shingling). */
  def containmentGramIndex(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    containmentShingleFrame(docs, idCol, textCol)
      .select(col("doc_id"), explode(col("__sh")).as("__gt"),
        col("n_grams"))
      .select(col("doc_id"), containmentGramKey(col("__gt")).as("gram"),
        col("n_grams"))

  /** One-time v1 → v2 migration of a persisted containment gram
    * index: hash the text grams in place. Same keys as
    * [[containmentGramIndex]] produces from scratch (keys are a pure
    * function of gram text), so a migrated asset and a rebuilt one
    * are row-identical. */
  def migrateContainmentIndexV1(index: DataFrame): DataFrame = {
    require(index.schema("gram").dataType ==
      org.apache.spark.sql.types.StringType,
      "migrateContainmentIndexV1 expects a v1 index (gram STRING); " +
        s"got ${index.schema("gram").dataType}")
    index.withColumn("gram", containmentGramKey(col("gram")))
  }

  /** Guard on every consumer of a persisted gram index: refuse a v1
    * (text-gram) asset with a migration pointer instead of silently
    * joining text against hashed keys (which would match nothing and
    * "dedup" nothing). */
  private def requireHashedGramIndex(index: DataFrame): Unit = {
    val dt = index.schema("gram").dataType
    require(dt.isInstanceOf[org.apache.spark.sql.types.StructType],
      "containment gram index v2 expects gram STRUCT<h1,h2> (hashed " +
        s"keys); got $dt — migrate a v1 text-gram asset once with " +
        "NearDup.migrateContainmentIndexV1")
  }

  /** (gram, df) side asset of a [[containmentGramIndex]] — document
    * frequency per gram key. Index rows are distinct per (doc, gram),
    * so count(*) IS df. [[dedupByContainmentIncrementalWithDf]]
    * maintains this incrementally (paragraphIndex-style merge
    * arithmetic) so the `maxDf` hot-gram cap on the history side is
    * a lookup against an asset that is already aggregated, instead
    * of two full scans of the ever-growing gram index per batch. */
  def containmentGramDf(index: DataFrame): DataFrame = {
    requireHashedGramIndex(index)
    // aggregate on the FLAT longs (codegen'd primitive grouping),
    // re-struct only at the asset boundary
    index.select(col("gram.h1").as("h1"), col("gram.h2").as("h2"))
      .groupBy("h1", "h2").agg(count(lit(1)).as("df"))
      .select(struct(col("h1"), col("h2")).as("gram"), col("df"))
  }

  /** The single source of truth for "a document's shingle set" in the
    * containment family: (doc_id, __sh, n_grams) with empty sets
    * filtered; `__sh` is text (hashing happens post-explode in the
    * consumers, where xxhash64 runs codegen'd per gram row instead
    * of through an interpreted array-transform lambda). Every
    * containment op derives grams AND sizes from this one frame, so
    * definitions can't drift and sizes never need a re-aggregation
    * over exploded gram rows. */
  private def containmentShingleFrame(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.withColumn("__tk", TextOps.tokens(col(textCol)))
      .select(col(idCol).as("doc_id"),
        TextOps.shingles3(col("__tk")).as("__sh"))
      .filter(size(col("__sh")) > 0)
      .select(col("doc_id"), col("__sh"),
        size(col("__sh")).cast("long").as("n_grams"))

  /** INCREMENTAL containment dedup — the daily-append shape of
    * [[dedupByContainment]] (the t26/t93 pattern): an incoming doc
    * drops when ITS OWN shingle set is `tau`-contained in any
    * already-shipped document, known only through
    * [[containmentGramIndex]]. Directional on purpose: a LARGER
    * source arriving after its excerpt shipped is kept — history is
    * immutable, and dropping the richer document to honor an already
    * -shipped fragment would destroy data; only the
    * contained-in-history side can lose. Survivors then batch-dedup
    * among themselves with the full keep-largest policy — computed
    * from the SAME persisted gram rows that feed the history join
    * and the updated index, so the batch is tokenized and shingled
    * exactly ONCE (r9's double-shingle finding).
    *
    * Keep-largest parity with the batch policy: history kills the
    * contained side only when the incoming doc is NOT strictly
    * larger — a late superset survives even inside the tau band
    * (cont(D→H) = 10/11 with D one sentence richer than shipped H
    * keeps D; dropping it would destroy the novel sentence, and the
    * same corpus split across two days would diverge from what
    * [[dedupByContainment]] does in one batch). Equal sizes resolve
    * in history's favor — the shipped doc is the min-id twin's role.
    *
    * Returns (survivors, updatedIndex); the updated index covers
    * history plus the surviving batch docs, so dropped docs never
    * enter it and the asset grows O(survivors) per day. With an
    * empty index this is exactly [[dedupByContainment]]
    * (spec-asserted).
    *
    * `maxDf` (default [[ContainmentMaxDfDefault]], exact opt-in via
    * [[ContainmentExhaustive]]): [[containmentPairs]]' hot-gram guard,
    * applied to BOTH joins this operator runs — the in-batch pass
    * inherits it, and the history join drops gram rows hot on EITHER
    * side (df within the batch, or df within the index, above the
    * cap) while `__inn` stays the full incoming size. The guarantee
    * here is PER DECISION, not end-to-end: capped containment only
    * underestimates, so each stage drops at most what its exact
    * counterpart would and never fabricates a containment relation —
    * but the two stages CASCADE: a doc the exact run drops against
    * history can survive under the cap and then legitimately
    * displace a smaller in-batch doc the exact run kept, so the
    * final survivor SET is not guaranteed a superset of the exact
    * run's (unlike the single-stage [[dedupByContainment]], where
    * the superset property holds and is spec-asserted).
    *
    * With `maxDf` ON this variant computes the history-side hot set
    * by aggregating `existingIndex` — two scans of the asset per
    * batch. That is fine while the asset is young; the production
    * path once the index dwarfs the batch is
    * [[dedupByContainmentIncrementalWithDf]], which keeps a (gram,
    * df) side asset so the cap is a lookup. */
  def dedupByContainmentIncremental(docs: DataFrame, idCol: String,
      textCol: String, existingIndex: DataFrame,
      tau: Double, maxDf: Int = ContainmentMaxDfDefault): (DataFrame, DataFrame) = {
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0, 1], got $tau")
    require(maxDf >= 2, s"maxDf must be >= 2, got $maxDf")
    requireHashedGramIndex(existingIndex)
    val ex = capGramsByDf(
      existingIndex.select(col("doc_id").as("__exid"),
        col("gram.h1").as("__g1"), col("gram.h2").as("__g2"),
        col("n_grams").as("__exn")),
      Seq("__g1", "__g2"), maxDf)
    val (survivors, inc) =
      containmentIncrementalCore(docs, idCol, textCol, ex, tau, maxDf)
    // survivors' gram rows already exist in `inc` — semi-join, never
    // re-shingle
    val updated = existingIndex.unionByName(
      inc.join(survivors.select(col(idCol).as("doc_id")),
        Seq("doc_id"), "left_semi"))
    (survivors, updated)
  }

  /** [[dedupByContainmentIncremental]] with the PRODUCTION hot-gram
    * cap: the history side's df comes from `existingGramDf` — the
    * (gram, df) side asset [[containmentGramDf]] seeds and this
    * operator maintains — instead of being re-aggregated from the
    * ever-growing gram index every batch. At 100 TB the index is
    * corpus-sized while the hot set (df > maxDf) is bounded by
    * |gram rows| / maxDf; filtering the ASSET to the hot set and
    * anti-joining it (AQE broadcasts it when small) replaces both
    * full index scans the base variant pays.
    *
    * Returns (survivors, updatedIndex, updatedGramDf). The df asset
    * is updated with paragraphIndex-style merge arithmetic — batch
    * survivor counts + history counts, one full-outer join — and
    * covers exactly the docs in updatedIndex (spec-asserted:
    * merged asset ≡ recount over the merged index). Identical
    * survivor semantics to the base variant: same caps, same
    * directional policy, same cascade contract (the asset's df over
    * history equals the index-aggregated df by construction). */
  def dedupByContainmentIncrementalWithDf(docs: DataFrame, idCol: String,
      textCol: String, existingIndex: DataFrame,
      existingGramDf: DataFrame, tau: Double,
      maxDf: Int = ContainmentMaxDfDefault): (DataFrame, DataFrame, DataFrame) = {
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0, 1], got $tau")
    require(maxDf >= 2, s"maxDf must be >= 2, got $maxDf")
    requireHashedGramIndex(existingIndex)
    val exSel = existingIndex.select(col("doc_id").as("__exid"),
      col("gram.h1").as("__g1"), col("gram.h2").as("__g2"),
      col("n_grams").as("__exn"))
    // the asset-backed cap: ONE scan of the index, hot set from the
    // pre-aggregated asset (vs capGramsByDf's aggregate + probe) —
    // flat-longs keys throughout (the pair core's struct-key note)
    val ex =
      if (maxDf == ContainmentExhaustive) exSel
      else exSel.join(
        existingGramDf.filter(col("df") > maxDf)
          .select(col("gram.h1").as("__g1"), col("gram.h2").as("__g2")),
        Seq("__g1", "__g2"), "left_anti")
    val (survivors, inc) =
      containmentIncrementalCore(docs, idCol, textCol, ex, tau, maxDf)
    // survivor gram rows feed the index union AND the df merge —
    // persist the narrow frame once (CacheRegistry discipline)
    val survGrams = graft.CacheRegistry.track(
      inc.join(survivors.select(col(idCol).as("doc_id")),
        Seq("doc_id"), "left_semi")
        .persist(StorageLevel.MEMORY_AND_DISK))
    val updatedIndex = existingIndex.unionByName(survGrams)
    val updatedDf = survGrams
      .select(col("gram.h1").as("h1"), col("gram.h2").as("h2"))
      .groupBy("h1", "h2").agg(count(lit(1)).as("__df_inc"))
      .join(existingGramDf.select(col("gram.h1").as("h1"),
        col("gram.h2").as("h2"), col("df").as("__df_ex")),
        Seq("h1", "h2"), "full_outer")
      .select(struct(col("h1"), col("h2")).as("gram"),
        (coalesce(col("__df_inc"), lit(0L)) +
          coalesce(col("__df_ex"), lit(0L))).as("df"))
    (survivors, updatedIndex, updatedDf)
  }

  /** The shared incremental core: history join (against the already-
    * capped `ex` frame) then the in-batch keep-largest pass — fed
    * from the ONE persisted gram frame of the batch, so raw text is
    * tokenized and shingled exactly once per batch. Returns
    * (survivors, persisted batch gram frame). */
  private def containmentIncrementalCore(docs: DataFrame, idCol: String,
      textCol: String, ex: DataFrame, tau: Double,
      maxDf: Int): (DataFrame, DataFrame) = {
    // the batch's gram rows feed the history join, the in-batch
    // pass, AND the updated index — persist once (CacheRegistry
    // discipline); batch-sized, never corpus-sized. ROOT THE CACHE AT
    // A SHUFFLE (r13): scan-rooted, the cache inherits the input's
    // partition count (96 from t129's three-way union) and every one
    // of the ~10 downstream cache scans paid 96 task launches for
    // ~1 MB of gram rows (measured: 96-task stages of 400 ms wall /
    // <50 ms CPU dominating the query). Hash-repartition by doc id —
    // a NORMAL shuffle, so AQE coalesces it with the parallelism
    // floor: a tiny batch collapses to one cached partition, a big
    // one keeps every core busy. (A REBALANCE hint was measured
    // instead and rejected: it coalesces purely by advisory size with
    // NO parallelism floor, which at 10× scale starved the history
    // join's map side — SF1 t103 22.2 s rebalanced vs 14.3 s without.)
    // Doc-id hashing also clusters each doc's grams, so the per-doc
    // aggregates downstream shuffle fewer distinct keys per partition.
    val inc = graft.CacheRegistry.track(
      containmentGramIndex(docs, idCol, textCol)
        .repartition(col("doc_id"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    // Materialize ONCE, at full parallelism, before the fan-out: the
    // final action's DAG has ~14 INDEPENDENT map stages over this
    // cache and AQE submits them concurrently — against a cold cache
    // they convoy on the per-partition block locks (one stage computes
    // the 60 s-CPU shingle build, the other stages' tasks block
    // HOLDING TASK SLOTS; measured at SF1: thirteen 10-task stages of
    // 13 s wall / ~0 CPU). One count() job builds every partition in
    // parallel and the fan-out then reads a warm cache. (Contrast the
    // minhash barrier removal: there the count gated the whole
    // removed-set DAG and consumers were sequential; here it gates
    // only the cache build and the consumers are concurrent.)
    inc.count()
    // cont(incoming → existing) per (incoming, existing) pair: count
    // of shared grams over the INCOMING size — one narrow gram-key
    // join, (id, id) counts only, the t100 discipline. PERSISTED:
    // the drop-id frame is referenced by afterHistory, the in-batch
    // gram semi-join, and the final anti-join — without a cache each
    // reference would replay the whole history join (the expensive,
    // asset-sized stage) per reference; with it, the history index
    // is read once per batch. Batch-bounded: at most one id per
    // incoming doc.
    val droppedVsHistory = graft.CacheRegistry.track(capGramsByDf(
      inc.select(col("doc_id").as("__inid"),
        col("gram.h1").as("__g1"), col("gram.h2").as("__g2"),
        col("n_grams").as("__inn")),
      Seq("__g1", "__g2"), maxDf)
      .join(ex, Seq("__g1", "__g2"))
      // __inid =!= __exid: an id can only collide with ITSELF across
      // the sides after a crash-replay left the doc's own gram rows
      // in the index without its corpus row (the streaming band-index
      // heal contract — a self-pair is cont=1 at equal size and would
      // drop the doc forever); real incoming/history ids are disjoint
      .filter(col("__inid") =!= col("__exid"))
      .groupBy("__inid", "__inn", "__exid", "__exn")
      .agg(count(lit(1)).as("__inter"))
      .filter(round(col("__inter") / col("__inn"), 6) >= tau &&
        col("__inn") <= col("__exn"))
      .select(col("__inid").as(idCol)).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK))
    // convoy guard (see `inc` above): this cache's build contains the
    // HISTORY-side shingle pipeline (54 s CPU at SF1) and the in-batch
    // pair core references it transitively from ~15 concurrent AQE
    // stages — cold, they convoy on its block locks holding task
    // slots; one count() builds it at full parallelism instead
    droppedVsHistory.count()
    val afterHistory = docs.join(droppedVsHistory, Seq(idCol), "left_anti")
    // in-batch keep-largest pass from the persisted gram rows (the
    // r9 double-shingle fix): anti-join `inc` down to the docs that
    // survived history, then run the shared pair core on those rows.
    // Sizes come off the distinct (doc, n_grams) projection — one
    // value per doc by construction. The maxDf cap inside the pair
    // core computes df within the post-history batch, exactly what
    // dedupByContainment(afterHistory, …) computed before.
    val incAfter = inc.join(
      droppedVsHistory.select(col(idCol).as("doc_id")),
      Seq("doc_id"), "left_anti")
    val pairs = containmentPairsFromGrams(
      incAfter.select(col("doc_id").as("__id"),
        col("gram.h1").as("__g1"), col("gram.h2").as("__g2")),
      incAfter.select(col("doc_id").as("__id"),
        col("n_grams").as("__n")).distinct(),
      tau, maxDf)
    // anti-join against afterHistory (not docs): zero-shingle docs
    // have no gram rows but survive by never pairing, same as the
    // batch operator
    val survivors = afterHistory.join(
      containmentDropIds(pairs, idCol, tau), Seq(idCol), "left_anti")
    (survivors, inc)
  }

  /** The keep-largest drop set of a [[containmentPairs]] frame: the
    * contained side of every tau-pair, equal sizes dropping the
    * larger id (min-id tie-break). Shared by the batch and
    * incremental dedup paths so the policy cannot drift. */
  private def containmentDropIds(pairs: DataFrame, idCol: String,
      tau: Double): DataFrame =
    pairs.select(
      when(col("cont_a") >= tau && col("n_a") < col("n_b"), col("id_a"))
        .when(col("cont_b") >= tau && col("n_b") < col("n_a"), col("id_b"))
        .when(col("n_a") === col("n_b") && col("cont_a") >= tau,
          col("id_b"))
        .as(idCol))
      .filter(col(idCol).isNotNull).distinct()

  /** Containment DEDUP policy over [[containmentPairs]]: a document
    * whose shingle set is `tau`-contained in a STRICTLY LARGER
    * document's drops (the excerpt goes, the source stays); equal
    * shingle counts keep the smaller id — the deterministic tie-break
    * every dedup operator here uses. Per-pair, not transitive: each
    * excerpt drops against its own container, so a chain
    * C ⊂ B ⊂ A keeps exactly A without needing a component pass.
    * When the larger side reaches tau in the smaller (near-equal
    * sizes under tau < 1), the smaller side's own containment is
    * necessarily higher still, so the drop direction stays
    * keep-largest. Returns the surviving rows of `docs`. `maxDf`:
    * [[containmentPairs]]' hot-gram guard (conservative — guard-on
    * survivors are a superset of the exact run's). */
  def dedupByContainment(docs: DataFrame, idCol: String,
      textCol: String, tau: Double,
      maxDf: Int = ContainmentMaxDfDefault): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0, 1], got $tau")
    require(maxDf >= 2, s"maxDf must be >= 2, got $maxDf")
    docs.join(
      containmentWitnessDropIds(docs, idCol, textCol, tau, maxDf),
      Seq(idCol), "left_anti")
  }

  /** The r11 pair-materializing form of [[dedupByContainment]] —
    * identical survivor set (ContainmentWitnessSpec asserts the
    * equality on randomized corpora), kept as the equivalence
    * reference for the witness path. Pays the full capped gram
    * self-join (Σ df² below the cap), which under replication-style
    * corpus growth is the family's one superlinear cost. */
  private[graft] def dedupByContainmentViaPairs(docs: DataFrame,
      idCol: String, textCol: String, tau: Double,
      maxDf: Int = ContainmentMaxDfDefault): DataFrame = {
    val pairs = containmentPairsViaJoin(docs, idCol, textCol, tau, maxDf)
    docs.join(containmentDropIds(pairs, idCol, tau), Seq(idCol),
      "left_anti")
  }

  /** WITNESS-SEARCH core of [[dedupByContainment]]: the drop-id set,
    * computed candidate-first instead of through the capped gram
    * self-join. Output-equal to [[containmentDropIds]] over
    * [[containmentPairs]] at the same (tau, maxDf) — proved below,
    * spec-asserted (ContainmentWitnessSpec), and oracle-gated (t101,
    * t144 replay the pair-materializing SQL).
    *
    * Why: the pair path prices Σ df² join rows over every gram below
    * the cap. Under replication-style growth every natural gram's df
    * scales with N, so 10× data costs ~100× join rows (BENCH_SF1 r11:
    * t101 18× at 10×) even though the DROP SET only needs one
    * verified container ("witness") per dropped doc. This path makes
    * candidate generation track rare-gram collisions and verification
    * track candidate count — both ~linear in true duplication work:
    *
    *  1. PROBE SELECTION (the deterministic form of a bottom-k gram
    *     sketch — ranked by corpus rarity instead of hash order): for
    *     each doc x, take its r(x) RAREST uncapped grams, where
    *     r(x) = uncapped(x) − m_min(x) + 1 and m_min(x) =
    *     max(1, ⌈tau·n_x⌉ − 1) (the −1 absorbs the round(·,6)
    *     boundary). PIGEONHOLE COMPLETENESS: a killer y has uncapped
    *     intersection ≥ m_min(x), so at most
    *     uncapped(x) − m_min(x) = r(x) − 1 of x's uncapped grams miss
    *     y — probing r(x)+1 grams therefore guarantees TWO hits, and
    *     the candidate stage keeps only pairs with ≥ 2 co-hits (see
    *     the probe-budget comment: the 2-hit threshold is what keeps
    *     shared-vocabulary collisions from flooding the verify stage;
    *     truncated probe sets lower the per-doc threshold so
    *     completeness is never traded). Docs with uncapped(x) <
    *     m_min(x) can never reach the tau numerator and are skipped
    *     outright.
    *     Unlike a hashed bottom-k sketch this probe set is exhaustive
    *     BY CONSTRUCTION — recall 1.0, not a measured floor. With
    *     tau = 0.9 the budget is ~0.1·n_x + 2 probes per doc.
    *  2. CANDIDATE JOIN: probe rows ⋈ the uncapped gram index, kept
    *     only when the partner could kill (n_y > n_x, or equal sizes
    *     with id_y < id_x). Cost Σ_probe df(g) ≤ maxDf·r̄·N — linear
    *     in N at ANY df profile (the cap bounds the per-probe fanout;
    *     the probe count per doc is ~(1−tau)·n̄, constant). Rarest-
    *     first ranking makes the practical fanout the df of a doc's
    *     most distinctive grams, far below the cap.
    *  3. VERIFY: the exact uncapped intersection count, computed ONLY
    *     for candidate pairs by replicating x's gram rows per
    *     candidate partner and joining on (y, gram) — a DOC-KEYED
    *     join with no df amplification; cost Σ_cand n_x. (This is
    *     where the r9 PPJoin attempt lost 17× — it shuffled full
    *     shingle ARRAYS to verify; this join moves only the flat
    *     long gram keys it would have moved anyway.)
    *
    * Drop policy replayed exactly: x drops iff some verified y has
    * round(n_inter/n_x, 6) ≥ tau and (n_y > n_x, or n_y == n_x with
    * id_y < id_x) — the same keep-largest/min-id-tie set
    * [[containmentDropIds]] extracts from the pair frame (equal-size
    * pairs have cont_a == cont_b, so the pair form's one-sided check
    * is the same predicate). n_x stays the FULL shingle count while
    * intersections count uncapped grams only — the hot-gram guard's
    * lower-bound contract, unchanged. */
  private def containmentWitnessDropIds(docs: DataFrame, idCol: String,
      textCol: String, tau: Double, maxDf: Int): DataFrame =
    containmentVerifiedCandidates(docs, idCol, textCol, tau, maxDf,
      killersOnly = true)
      .filter(round(col("__ninter") / col("__nx"), 6) >= tau)
      .select(col("__x").as(idCol)).distinct()

  /** Shared candidate+verify core of [[containmentWitnessDropIds]]
    * and the pruned [[containmentPairs]]: exact uncapped intersection
    * counts for every surfaced directional candidate, as
    * (__x probe side, __y partner, __ninter, __nx, __ny).
    * `killersOnly` applies the keep-largest eligibility filter
    * (n_y > n_x, or equal sizes with id_y < id_x) BEFORE the verify
    * join — the dedup path verifies only potential killers, the pair
    * path verifies every candidate so both directions' tau checks
    * see exact counts. */
  private def containmentVerifiedCandidates(docs: DataFrame,
      idCol: String, textCol: String, tau: Double, maxDf: Int,
      killersOnly: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pre = containmentShingleFrame(docs, idCol, textCol)
    val exhaustive = maxDf == ContainmentExhaustive
    // full hashed gram rows — feed the df aggregate and its join-back
    // (df per gram is an AGGREGATE + join, deliberately NOT a window
    // over the gram key: ~one row per group makes WindowExec's sort +
    // per-group iteration strictly worse — measured 34% slower on
    // t100 at sf0.1)
    val grams = graft.CacheRegistry.track(
      pre.select(col("doc_id").as("__id"),
          explode(col("__sh")).as("__gt"))
        .select(col("__id"), xxhash64(col("__gt")).as("__g1"),
          xxhash64(lit(GramKeySalt), col("__gt")).as("__g2"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    // materialize before the fan-out: grams feeds the df aggregate AND
    // the join-back, two map stages AQE runs concurrently — against a
    // cold cache their tasks convoy on the block locks while ONE
    // computes the tokenize+shingle build (see the incremental core's
    // note; measured there at SF1: 13 s of slot-holding waiters)
    grams.count()
    val dfTab = grams.groupBy("__g1", "__g2")
      .agg(count(lit(1)).as("__df"))
    val withDf = grams.join(dfTab, Seq("__g1", "__g2"))
    val uncFlag = if (exhaustive) lit(true) else col("__df") <= maxDf
    // Per-doc stats (full count, uncapped count) and the rarity rank
    // all ride ONE doc-id window pass — r13 merge of the r12 shape's
    // separate stats aggregate (which re-derived the df join a second
    // time), budget join-back and rank window: three exchanges of the
    // same rows collapsed into the one the rank needed anyway (the
    // sf0.1 path was stage-latency-bound: 8v32-core ratio 0.80).
    // Ordering guarantee: every capped row's df exceeds maxDf >=
    // every uncapped row's df, so ranking ALL rows by (df, g1, g2)
    // gives uncapped rows ranks 1..nunc — identical to the r12 rank
    // computed over the uncapped subset alone.
    val wId = Window.partitionBy("__id")
      .orderBy(col("__df").asc, col("__g1").asc, col("__g2").asc)
    val wIdAll = wId.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    // The ONE persisted frame everything downstream reads (probe
    // side, candidate index side, both verify sides): uncapped gram
    // rows carrying per-doc full size __n, uncapped count __nunc and
    // rarity rank __rk. Shingle rows are distinct per doc, so the
    // doc-window count IS n_grams — doc sizes never come from a
    // second tokenize+shingle pass (a measured ~3-4 s/stage floor at
    // SF1).
    val unc = graft.CacheRegistry.track(
      withDf
        .withColumn("__n", count(lit(1)).over(wIdAll))
        .withColumn("__nunc", sum(when(uncFlag, 1L).otherwise(0L))
          .over(wIdAll))
        .withColumn("__rk", row_number().over(wId))
        .filter(uncFlag)
        .select(col("__id"), col("__g1"), col("__g2"), col("__n"),
          col("__nunc"), col("__rk"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    // same convoy guard: probe side, candidate index side and both
    // verify sides scan this cache from concurrent AQE stages
    unc.count()
    // (id, full size) — derived from the id-partitioned cache, so the
    // aggregate is exchange-free; every doc that can appear as a
    // candidate partner has >= 1 uncapped row and is present here
    val sizes = unc.groupBy("__id").agg(max(col("__n")).as("__n"))
    // Probe budget per doc, OVERSAMPLED BY ONE: r(x) probes guarantee
    // one hit on a true killer; r(x)+1 guarantee TWO. The 2-hit
    // candidate threshold is what keeps false candidates out — on a
    // shared-vocabulary corpus even a doc's rarest grams collide with
    // ~dozens of unrelated docs, and a 1-hit candidate set would send
    // each such pair through a full-n_x verify (measured 475M verify
    // rows at SF1 vs 17.7M with the threshold). When a doc has fewer
    // than r+1 uncapped grams the probe set truncates to all of them
    // and the guaranteed hit count degrades to m_min — __thr carries
    // the per-doc guarantee, clamped to [1, 2], so completeness is
    // never traded (tiny-doc edge: n_x == 1 at low tau has m_min == 1
    // and must keep the 1-hit threshold). Docs with r < 1 (uncapped
    // count below m_min) can never reach the tau numerator and send
    // no probes — they stay present on the index/verify sides.
    val probes = unc
      .withColumn("__mmin", greatest(lit(1L),
        ceil(col("__n") * tau).cast("long") - 1L))
      .withColumn("__r", col("__nunc") - col("__mmin") + 1L)
      .filter(col("__r") >= 1L)
      .withColumn("__np", least(col("__r") + 1L, col("__nunc")))
      .filter(col("__rk") <= col("__np"))
      .withColumn("__thr", greatest(lit(1L), least(lit(2L),
        col("__np") - col("__nunc") + col("__mmin"))))
      .select(col("__id").as("__x"), col("__g1"), col("__g2"),
        col("__thr"), col("__n").as("__nx"))
    val candAll = probes
      .join(unc.select(col("__id").as("__y"), col("__g1"),
        col("__g2")), Seq("__g1", "__g2"))
      .filter(col("__x") =!= col("__y"))
      .groupBy("__x", "__y")
      .agg(count(lit(1)).as("__m"), first(col("__thr")).as("__thr"),
        first(col("__nx")).as("__nx"))
      .filter(col("__m") >= col("__thr"))
      .join(sizes.select(col("__id").as("__y"), col("__n").as("__ny")),
        Seq("__y"))
    val cand =
      (if (killersOnly)
        candAll.filter(col("__ny") > col("__nx") ||
          (col("__ny") === col("__nx") && col("__y") < col("__x")))
      else candAll)
        .select("__x", "__y", "__nx", "__ny")
    val inter = unc.select(col("__id").as("__x"), col("__g1"),
        col("__g2"))
      .join(cand.select("__x", "__y"), Seq("__x"))
      .join(unc.select(col("__id").as("__y"), col("__g1"),
        col("__g2")), Seq("__y", "__g1", "__g2"))
      .groupBy("__x", "__y").agg(count(lit(1)).as("__ninter"))
    inter.join(cand, Seq("__x", "__y"))
      .select(col("__x"), col("__y"), col("__ninter"), col("__nx"),
        col("__ny"))
  }
}
