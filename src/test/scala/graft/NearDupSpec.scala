package graft

import graft.operators.NearDup
import org.apache.spark.sql.functions._

/** Composed near-dup operators: incremental-against-corpus semantics
  * and the algebraic properties every dedup must satisfy
  * (survivors ⊆ input, idempotence, existing-wins).
  */
class NearDupSpec extends SparkSpec {
  import spark.implicits._

  private val textA = "alpha beta gamma delta epsilon zeta eta theta"
  private val textC = "one two three four five six seven eight nine"
  private val textE = "totally different words nothing shared here at all"

  test("dedupByMinhashIncremental: existing wins, incoming self-dedups") {
    val existing = Seq((1L, textA), (2L, textE)).toDF("doc_id", "text")
    val existingBands = NearDup.minhashBands(existing, "doc_id", "text",
      12, 4)
    // incoming: 10 = dup of existing 1; 11 = new; 12 = dup of 11
    val incoming = Seq((10L, textA), (11L, textC), (12L, textC))
      .toDF("doc_id", "text")
    val survivors = NearDup.dedupByMinhashIncremental(incoming, "doc_id",
      "text", existingBands, existing, threshold = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(survivors.toSeq == Seq(11L))
  }

  test("dedupByMinhashIncremental: empty existing == plain dedup") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val emptyBands = NearDup.minhashBands(empty, "doc_id", "text", 12, 4)
    val incoming = Seq((10L, textA), (11L, textA), (12L, textC))
      .toDF("doc_id", "text")
    val inc = NearDup.dedupByMinhashIncremental(incoming, "doc_id",
      "text", emptyBands, empty, threshold = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val plain = NearDup.dedupByMinhash(incoming, "doc_id", "text", 0.8)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(inc == plain && inc == Seq(10L, 12L))
  }

  test("dedupByEmbeddingIncremental: existing wins, incoming self-dedups") {
    val vA = Array.tabulate(8)(i => 1.0 + i) // existing direction
    val vB = Array.tabulate(8)(i => if (i % 2 == 0) 5.0 else -3.0)
    val existing = Seq((1L, vA.toSeq)).toDF("vec_id", "v")
    val exBands = NearDup.embeddingBands(existing, "vec_id", "v", 8, 4, 4)
    // 10 = same direction as existing 1 (scaled); 11 = new direction;
    // 12 = same direction as 11
    val incoming = Seq(
      (10L, vA.map(_ * 2.0).toSeq),
      (11L, vB.toSeq),
      (12L, vB.map(_ * 3.0).toSeq)).toDF("vec_id", "v")
    val survivors = NearDup.dedupByEmbeddingIncremental(incoming,
      "vec_id", "v", exBands, existing, threshold = 0.99, dims = 8)
      .select("vec_id").collect().map(_.getLong(0)).sorted
    assert(survivors.toSeq == Seq(11L))
  }

  test("connectedComponents: chains, stars, singleton edges, hubs") {
    // component {1,2,3,4} is a CHAIN (1-2, 2-3, 3-4): only transitive
    // closure finds 4's root; {10,11} a lone pair; {20,21,22} a star
    // centered on the LARGEST id (hub = 22)
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L),
      (22L, 20L), (22L, 21L)).toDF("a", "b")
    val comp = NearDup.connectedComponents(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("connectedComponents: long chain converges in log rounds") {
    // a 64-node chain needs 63 rounds of min-label flooding but only
    // a handful of star rounds — maxIter=8 proves the log behavior
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("a", "b")
    val comp = NearDup.connectedComponents(chain, "a", "b", maxIter = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.size == 64 && comp.values.forall(_ == 0L))
  }

  test("dedupByComponents: one survivor per component vs local minima") {
    // docs 1 and 2 are both near-dups of BRIDGE doc 3 but not of each
    // other (prefix/suffix overlap): keep-min-id keeps both 1 and 2
    // (each locally minimal — only 3 is ever the larger of a verified
    // pair); the component policy keeps exactly one representative of
    // {1,2,3}. Doc 4 is untouched either way.
    val w = (1 to 12).map(i => s"word$i")
    val bridge = w.mkString(" ")                 // w1..w12
    val prefix = w.take(10).mkString(" ")        // J(prefix,bridge)=0.8
    val suffix = w.drop(3).mkString(" ")         // J(suffix,bridge)=0.7
    val docs = Seq(
      (1L, prefix), (2L, suffix), (3L, bridge), (4L, textE))
      .toDF("doc_id", "text")
    val byMin = NearDup.dedupByMinhash(docs, "doc_id", "text", 0.65)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val byComp = NearDup.dedupByComponents(docs, "doc_id", "text", 0.65)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(byMin == Set(1L, 2L, 4L)) // 1 and 2 both locally minimal
    assert(byComp == Set(1L, 4L))    // one survivor per component
    // idempotent like every dedup
    val twice = NearDup.dedupByComponents(
      docs.filter(col("doc_id").isin(byComp.toSeq: _*)),
      "doc_id", "text", 0.65)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(twice == byComp)
  }

  test("canonicalByMinhash: best-by-rank wins, ties break to min id") {
    // same bridge family {1,2,3} as above; rank chooses the survivor
    // instead of min-id. Doc 4 is a singleton and survives untouched.
    val w = (1 to 12).map(i => s"word$i")
    val bridge = w.mkString(" ")
    val prefix = w.take(10).mkString(" ")
    val suffix = w.drop(3).mkString(" ")
    val docs = Seq(
      (1L, prefix, 5L), (2L, suffix, 9L), (3L, bridge, 7L),
      (4L, textE, 1L)).toDF("doc_id", "text", "quality")
    val out = NearDup.canonicalByMinhash(
      docs, "doc_id", "text", "quality", 0.65)
    assert(out.columns.toSet ==
      Set("doc_id", "text", "quality", "component"))
    val kept = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 4L)) // 2 has the family's top quality
    // tie on rank -> smallest id: give 1 and 2 equal top quality
    val tied = docs.withColumn("quality",
      when(col("doc_id").isin(1L, 2L), 9L).otherwise(col("quality")))
    val keptTied = NearDup.canonicalByMinhash(
      tied, "doc_id", "text", "quality", 0.65)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptTied == Set(1L, 4L))
    // partitioning-independent
    val spread = NearDup.canonicalByMinhash(
      docs.repartition(7), "doc_id", "text", "quality", 0.65)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(spread == kept)
  }

  test("dedupByEmbeddingComponents: bridge vector collapses the group") {
    // vectors 1 and 2 both within threshold of bridge 3 (each a slight
    // rotation toward 3) but not of each other; component policy keeps
    // one of {1,2,3}, min-id policy keeps both locally-minimal 1 and 2
    val bridge = Array(1.0, 1.0, 0.0, 0.0)
    val va = Array(1.0, 0.55, 0.0, 0.0) // cos(va,bridge)=.96, cos(va,vb)=.83
    val vb = Array(0.55, 1.0, 0.0, 0.0)
    val vecs = Seq((1L, va.toSeq), (2L, vb.toSeq), (3L, bridge.toSeq),
      (4L, Seq(0.0, 0.0, 1.0, 0.0))).toDF("vec_id", "v")
    val byMin = NearDup.dedupByEmbedding(vecs, "vec_id", "v",
      threshold = 0.9, dims = 4)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val byComp = NearDup.dedupByEmbeddingComponents(vecs, "vec_id", "v",
      threshold = 0.9, dims = 4)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(byMin == Set(1L, 2L, 4L))
    assert(byComp == Set(1L, 4L))
  }

  test("curateComponents == curate except for the survivor policy") {
    import graft.operators.Curate
    // long docs that pass the quality/lang gates, with a bridge group:
    // base text must clear minTokens=20 and carry English stopwords
    val base = "the quick brown fox jumps over a lazy dog near the " +
      "river bank and walks to the old mill in town every day"
    val w = base.split(" ")
    val bridge = w.mkString(" ")
    val prefix = w.dropRight(3).mkString(" ")
    val suffix = w.drop(2).mkString(" ")
    val docs = Seq((1L, prefix), (2L, suffix), (3L, bridge))
      .toDF("doc_id", "text")
    val byMin = Curate.curate(docs, "doc_id", "text",
      maxStopRatio = 0.5, neardupThreshold = 0.7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val byComp = Curate.curateComponents(docs, "doc_id", "text",
      maxStopRatio = 0.5, neardupThreshold = 0.7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(byComp.subsetOf(byMin))
    assert(byComp.contains(1L))
  }

  test("curateToShards: curate -> sample -> pack composition is consistent") {
    import graft.operators.{Curate, Pack, Sample}
    val base = "the quick brown fox jumps over a lazy dog near the " +
      "river bank and walks to the old mill in town every day"
    val w = base.split(" ")
    // 30 distinct clean docs (unique suffix token) + one near-dup pair
    val docs = ((0L until 30L).map(i => (i, base + s" marker$i")) :+
      (100L, base + " marker0 extra")).toDF("doc_id", "text")
    val out = Curate.curateToShards(docs, "doc_id", "text",
      shardBudget = 100L, sampleFraction = 1.0,
      maxStopRatio = 0.5, neardupThreshold = 0.7)
    val rows = out.select("doc_id", "n_tokens", "shard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // survivors ⊆ input, each carries its token count
    assert(rows.map(_._1).toSet.subsetOf(
      docs.collect().map(_.getLong(0)).toSet))
    assert(rows.forall(_._2 == w.length + 1) ||
      rows.exists(_._1 == 100L)) // doc 100 has one more token if kept
    // shards are the packing of survivors in id order: dense from 0
    val shards = rows.map(_._3).toSet
    assert(shards == (0L to shards.max).toSet)
    // sampling composes: a 0.5 sample is a subset of the full run
    val sampled = Curate.curateToShards(docs, "doc_id", "text",
      shardBudget = 100L, sampleFraction = 0.5,
      maxStopRatio = 0.5, neardupThreshold = 0.7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sampled.subsetOf(rows.map(_._1).toSet))
    assert(sampled.size < rows.length)
  }

  // ------------------------------------- curateToShards at one partition

  private val ShardBudget = 200L

  /** A small corpus in three parquet files: distinct documents,
    * exact-duplicate groups (byte-identical and case variants), a
    * near-duplicate family, short documents, one document over the
    * shard budget, and ids with gaps in shuffled order. */
  private lazy val corpusDir: String = {
    val rnd = new scala.util.Random(11)
    val vocab = Array.tabulate(400)(i => "w" + Integer.toString(i * 7 + 11, 36))
    val stop = Array("the", "of", "and", "to", "in", "a")
    def words(n: Int) = {
      val w = Array.fill(n)(vocab(rnd.nextInt(vocab.length)))
      for (_ <- 0 until math.max(1, n * 8 / 100))
        w(rnd.nextInt(n)) = stop(rnd.nextInt(stop.length))
      w
    }
    val distinct = Seq.fill(40)(words(25 + rnd.nextInt(40)).mkString(" "))
    val exact = Seq.fill(3)(words(30 + rnd.nextInt(20))).flatMap { w =>
      Seq(w.mkString(" "), w.mkString(" "),
        (w.head.toUpperCase +: w.tail).mkString(" "))
    }
    val family = {
      val w = words(60)
      (0 until 3).map { c =>
        val v = w.clone()
        if (c > 0) v(v.length - 1 - c) = vocab(rnd.nextInt(vocab.length))
        v.mkString(" ")
      }
    }
    val short = Seq.fill(4)(words(3 + rnd.nextInt(12)).mkString(" "))
    val over = words((ShardBudget + ShardBudget / 4).toInt).mkString(" ")
    val texts = distinct ++ exact ++ family ++ short :+ over
    val ids = rnd.shuffle(texts.indices.map(i => i * 3L + rnd.nextInt(3)))
    val dir = tmpDir("corpus") + "/docs"
    ids.zip(texts).toDF("doc_id", "text").repartition(3)
      .write.parquet(dir)
    dir
  }

  private def shardsOf(sampleFraction: Double): (Seq[(Long, Long, Long)], Int) = {
    val docs = spark.read.parquet(corpusDir)
    val (out, jobs) = org.apache.spark.JobCounter.jobsDuring(
        spark.sparkContext) {
      graft.operators.Curate.curateToShards(docs, "doc_id", "text",
        ShardBudget, sampleFraction, maxStopRatio = 0.5,
        neardupThreshold = 0.7)
    }
    (out.select("doc_id", "n_tokens", "shard").as[(Long, Long, Long)]
      .collect().toSeq.sortBy(_._1), jobs)
  }

  test("curateToShards: one-partition plan == two-level plan == prefix sum") {
    for (fraction <- Seq(1.0, 0.8)) {
      val (one, oneJobs) = shardsOf(fraction)
      val (twoLevel, twoLevelJobs) = aboveBound(shardsOf(fraction))
      assert(one == twoLevel, s"fraction $fraction")
      // each bound took its own path: Pack's driver collects run at
      // the call, the one-partition pass only in the consumer's action
      assert(oneJobs == 0 && twoLevelJobs > 0,
        s"fraction $fraction: jobs $oneJobs, $twoLevelJobs")
      // the packing itself, recomputed on the driver
      val prefix = one.map(_._2).scanLeft(0L)(_ + _)
      assert(one.map(_._3) == prefix.init.map(_ / ShardBudget))
      // the over-budget document is packed like any other
      assert(one.exists(_._2 > ShardBudget))
    }
    // 57 documents: the 4 short ones, 2 copies of each of the 3 exact
    // groups and 2 members of the near-dup family go; sampling drops more
    assert(shardsOf(1.0)._1.size == 45)
    assert(shardsOf(0.8)._1.size < 45)
  }

  test("curateToShards: a small pass plans no shuffle but the tar writer's") {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM,
      ShuffleExchangeExec}
    import org.apache.spark.sql.util.QueryExecutionListener
    // every shuffle of a plan, the plans of the caches it reads included
    def shuffles(p: SparkPlan): Seq[ShuffleExchangeExec] =
      PlanWalk.flatMap(p) {
        case e: ShuffleExchangeExec => Seq(e)
        case s: InMemoryTableScanExec => shuffles(s.relation.cachedPlan)
        case _ => Nil
      }
    val nShards = 3
    def written(): Seq[ShuffleExchangeExec] = {
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
      val l = new QueryExecutionListener {
        def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
          plans.add(qe.executedPlan)
        def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      val packed = graft.operators.Curate.curateToShards(
        spark.read.parquet(corpusDir), "doc_id", "text", ShardBudget,
        maxStopRatio = 0.5, neardupThreshold = 0.7)
      org.apache.spark.JobCounter.drain(spark.sparkContext)
      spark.listenerManager.register(l)
      try graft.operators.TarShards.write(packed.select(col("doc_id"),
          format_string("p%05d-%08d.txt", col("shard"), col("doc_id"))
            .as("name"), encode(col("text"), "UTF-8").as("data")),
        "doc_id", tmpDir("tars"), nShards)
      finally {
        org.apache.spark.JobCounter.drain(spark.sparkContext)
        spark.listenerManager.unregister(l)
      }
      CacheRegistry.release()
      assert(plans.size == 1, s"${plans.size} queries")
      shuffles(plans.peek()).distinct
    }
    val small = written()
    assert(small.size == 1 && small.forall(e =>
      e.shuffleOrigin == REPARTITION_BY_NUM && e.numPartitions == nShards),
      small.mkString("\n"))
    // above the bound curation shuffles again
    assert(aboveBound(written()).size > 1)
  }

  test("curateToShards: a null id fails the consumer's action at one " +
      "partition, the call above the bound") {
    // a document that survives curation loses its id
    val victim = shardsOf(1.0)._1.head._1
    val docs = spark.read.parquet(corpusDir)
      .withColumn("doc_id", when(col("doc_id") =!= victim, col("doc_id")))
    def pack() = graft.operators.Curate.curateToShards(docs, "doc_id",
      "text", ShardBudget, maxStopRatio = 0.5, neardupThreshold = 0.7)
    val contract = "has 1 null rows; null ids have no position in the " +
      "packing order"
    val lazyPass = pack() // no job, so nothing fails yet
    val e = intercept[Exception](lazyPass.collect())
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
    assert(messages.exists(_.contains(contract)), messages.mkString("\n"))
    val eager = intercept[IllegalArgumentException](aboveBound(pack()))
    assert(eager.getMessage.contains(contract))
    CacheRegistry.release()
  }

  test("simhash64 low half == simhash32 (same base hash, wider vote)") {
    val docs = Seq((1L, textA), (2L, textC), (3L, textE))
      .toDF("doc_id", "text")
    val s32 = NearDup.simhash32(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val s64 = NearDup.simhash64(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s64.keySet == s32.keySet)
    s64.foreach { case (id, sig) =>
      assert((sig & 0xFFFFFFFFL) == s32(id),
        s"doc $id: low half ${sig & 0xFFFFFFFFL} != ${s32(id)}")
    }
    // and the high half actually carries signal (not all zero)
    assert(s64.values.exists(sig => (sig >>> 32) != 0L))
  }

  test("dedup family: survivors ⊆ input and idempotent") {
    val docs = Seq((1L, textA), (2L, textA), (3L, textC), (4L, textE))
      .toDF("doc_id", "text")
    for (dedup <- Seq(
      (d: org.apache.spark.sql.DataFrame) =>
        NearDup.dedupByMinhash(d, "doc_id", "text", 0.8),
      (d: org.apache.spark.sql.DataFrame) =>
        NearDup.dedupBySimhash(d, "doc_id", "text"))) {
      val once = dedup(docs)
      val ids = once.select("doc_id").collect().map(_.getLong(0)).toSet
      val all = docs.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids.subsetOf(all))
      assert(ids.contains(1L) && !ids.contains(2L)) // min id survives
      val twice = dedup(once).select("doc_id").collect()
        .map(_.getLong(0)).toSet
      assert(twice == ids) // idempotent: dedup(dedup(x)) == dedup(x)
    }
  }

  test("simhashBandsPaired: every hamming<=3 pair shares a table") {
    // pigeonhole guarantee, exercised bit-for-bit: flip 3 bits of a
    // base signature at positions chosen to straddle block boundaries
    // (incl. the sign bit — the unsigned shift must not smear it),
    // band both, assert a shared (band_id, band_hash)
    val base = 0x5DEECE66DABCDEF1L
    val flipSets = Seq(
      Seq(0, 1, 2), Seq(12, 13, 14), Seq(25, 26, 38),
      Seq(0, 31, 63), Seq(61, 62, 63), Seq(51, 52, 53), Seq(7, 33, 59))
    flipSets.zipWithIndex.foreach { case (flips, i) =>
      val variant = flips.foldLeft(base)((s, b) => s ^ (1L << b))
      val sigs = Seq((1L, base), (2L, variant)).toDF("doc_id", "simhash")
      val shared = NearDup.simhashBandsPaired(sigs, "doc_id")
        .groupBy("band_id", "band_hash")
        .agg(countDistinct("doc_id").as("n"))
        .filter(col("n") === 2).count()
      assert(shared >= 1, s"flip set $i $flips shared no table")
    }
    // and ~26-bit keys: two UNRELATED signatures share nothing
    val unrelated = Seq((1L, base), (2L, 0x123456789ABCDEF0L))
      .toDF("doc_id", "simhash")
    assert(NearDup.simhashBandsPaired(unrelated, "doc_id")
      .groupBy("band_id", "band_hash")
      .agg(countDistinct("doc_id").as("n"))
      .filter(col("n") === 2).count() == 0)
  }

  test("dedupBySimhash == brute-force hamming<=3 keep-min-id") {
    // the banding scheme must not change the semantics: survivors are
    // exactly the docs with no smaller-id partner at hamming<=3,
    // computed here by brute force over the signature set
    val docs = Seq(
      (1L, textA), (2L, textA + " iota"), (3L, textC), (4L, textE),
      (5L, textA), (6L, textC + " ten"), (7L, "x y z"), (8L, "x y z"))
      .toDF("doc_id", "text")
    val sigs = NearDup.simhash64(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val expected = sigs.collect {
      case (id, s) if !sigs.exists { case (id2, s2) =>
        id2 < id && java.lang.Long.bitCount(s ^ s2) <= 3 } => id
    }.toSeq
    val got = NearDup.dedupBySimhash(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == expected)
  }

  test("dedupBySimhashIncremental: existing wins, brute-force parity") {
    val existing = Seq((1L, textA), (2L, textE)).toDF("doc_id", "text")
    val exBands = NearDup.simhashBandsPaired(
      NearDup.simhash64(existing, "doc_id", "text"), "doc_id")
    val incoming = Seq((10L, textA), (11L, textC), (12L, textC),
      (13L, textC + " ten")).toDF("doc_id", "text")
    val got = NearDup.dedupBySimhashIncremental(incoming, "doc_id",
      "text", exBands)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // the documented policy, brute-forced over the signatures: an
    // incoming doc is dropped iff within hamming 3 of ANY existing
    // signature or of a smaller-id incoming signature
    val exSigs = NearDup.simhash64(existing, "doc_id", "text")
      .collect().map(_.getLong(1))
    val inSigs = NearDup.simhash64(incoming, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val expected = inSigs.collect {
      case (id, s) if !exSigs.exists(e =>
        java.lang.Long.bitCount(s ^ e) <= 3) &&
        !inSigs.exists { case (id2, s2) =>
          id2 < id && java.lang.Long.bitCount(s ^ s2) <= 3 } => id
    }.toSeq
    assert(got == expected)
    // fixed sanity: 10 is hamming-0 vs existing 1; 12 is hamming-0 vs
    // in-batch 11; 11 is genuinely new
    assert(!got.contains(10L) && got.contains(11L) && !got.contains(12L))
  }

  test("dedupBySignature: mass-duplicated signature collapses pre-banding") {
    // 3000 identical signatures would form ~4.5M clique pairs per
    // shared bucket if banded raw; the exact-class collapse reduces
    // them to ONE banded rep, so the pathological corpus costs the
    // same as a 2-signature one (the ScaleUp patho-block contract,
    // signature flavor)
    val sigs = ((0L until 3000L).map(i => (i, 0x1234L)) :+
      ((9000L, 0x7777777777777777L))).toDF("doc_id", "sig")
    val kept = NearDup.dedupBySignature(sigs, "doc_id", "sig")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 9000L))
  }

  test("dedupBySignatureIncremental: generic signatures, same policy") {
    // raw 64-bit signatures (no text, no codec): the signature-
    // generic incremental core must apply the identical policy as
    // the simhash form — existing wins, smaller incoming id wins,
    // in-batch hamming-0 collapses
    val exSigs = Seq((1L, 0x00000000000000FFL), (2L, 0x0F0F0F0F0F0F0F0FL))
      .toDF("doc_id", "sig")
    val exBands = NearDup.signatureBands(exSigs, "doc_id", "sig")
    val incoming = Seq(
      (10L, 0x00000000000000FDL), // hamming 1 vs existing 1 -> drops
      (11L, 0x7777777777777777L), // new -> survives
      (12L, 0x7777777777777777L), // hamming-0 twin of 11 -> drops
      (13L, 0x7777777777777775L), // hamming 1 vs smaller 11 -> drops
      (14L, 0xF0F0F0F0F0F0F0F0L)  // far from everything -> survives
    ).toDF("doc_id", "sig")
    val got = NearDup.dedupBySignatureIncremental(incoming, "doc_id",
      "sig", exBands).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(11L, 14L))

    // empty existing index == the batch signature dedup over incoming
    val emptyBands = NearDup.signatureBands(
      exSigs.filter(col("doc_id") < 0), "doc_id", "sig")
    val inc = NearDup.dedupBySignatureIncremental(incoming, "doc_id",
      "sig", emptyBands).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    val batch = NearDup.dedupBySignature(incoming, "doc_id", "sig")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(inc == batch)

    // ghost-band healing (the r7 review fix): survivors re-fed
    // against an index that already holds THEIR OWN band rows — the
    // crash-between-band-write-and-corpus-append replay shape — ride
    // through unchanged; a doc is never a duplicate of itself. (The
    // streaming caller's corpus anti-join is what prevents actual
    // re-insertion.) A true near-dup of a DIFFERENT indexed id still
    // drops.
    val survivors = incoming.filter(col("doc_id").isin(got: _*))
    val appended = exBands.unionByName(
      NearDup.signatureBands(survivors, "doc_id", "sig"))
    assert(NearDup.dedupBySignatureIncremental(survivors, "doc_id",
      "sig", appended).count() == survivors.count())
    val nearOf11 = Seq((99L, 0x7777777777777776L)).toDF("doc_id", "sig")
    assert(NearDup.dedupBySignatureIncremental(nearOf11, "doc_id",
      "sig", appended).count() == 0)
  }

  test("exact-class collapse keys on RAW text, not canonicalized") {
    // upper/lower variants share TextOps.fingerprint (md5 of
    // lower+trim) but their case-sensitive shingle sets are disjoint:
    // true Jaccard = 0, far below threshold, so BOTH must survive the
    // exact-Jaccard policy. A collapse keyed on the canonicalized
    // fingerprint would silently drop doc 2 with no verify.
    val upper = textA.toUpperCase
    val docs = Seq((1L, textA), (2L, upper), (3L, textA), (4L, textC))
      .toDF("doc_id", "text")
    for (survivorSets <- Seq(
      NearDup.dedupByMinhash(docs, "doc_id", "text", 0.8),
      NearDup.dedupByComponents(docs, "doc_id", "text", 0.8))) {
      val ids = survivorSets.select("doc_id").collect()
        .map(_.getLong(0)).sorted.toSeq
      // 3 collapses against byte-identical 1; 2 (case variant) survives
      assert(ids == Seq(1L, 2L, 4L))
    }
    // incremental twin: byte-identical replays drop, case variants live
    val existing = Seq((1L, textA)).toDF("doc_id", "text")
    val exBands = NearDup.minhashBands(existing, "doc_id", "text", 12, 4)
    val incoming = Seq((10L, upper), (11L, textA)).toDF("doc_id", "text")
    val inc = NearDup.dedupByMinhashIncremental(incoming, "doc_id",
      "text", exBands, existing, threshold = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(inc == Seq(10L))
  }

  test("exact-class collapse == the grouped join it replaced") {
    val shortDup = "two words"
    val docs = Seq[(Long, String)]((5L, textA), (2L, textA), (9L, textA),
      (3L, textC), (8L, textC), (4L, textE), (6L, shortDup),
      (7L, shortDup), (10L, null), (11L, null))
      .toDF("doc_id", "text")
    val sh = NearDup.rawShingles(docs, "doc_id", "text")
    // the join form: class minimum by groupBy, joined back on __fp
    val eligible = sh.filter(col("__ntk") >= 3)
    val reps = eligible.groupBy("__fp").agg(min(col("doc_id")).as("__rep"))
    val refRemoved = eligible.join(reps, "__fp")
      .filter(col("doc_id") =!= col("__rep")).select("doc_id")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val (kept, removed) = NearDup.collapseExactClasses(sh, "doc_id")
    assert(ids(removed) == ids(refRemoved) && ids(removed) == Seq(5L, 8L, 9L))
    assert(ids(kept) == ids(sh.join(refRemoved, Seq("doc_id"), "left_anti")))
  }

  test("dedupByMinhash plans no string-keyed broadcast join") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.types.StringType
    // through adaptive stages, subqueries and the operator's caches
    def nodes(p: SparkPlan): Seq[SparkPlan] =
      PlanWalk.collectWithSubqueries(p) { case n => n }.flatMap {
        case s: InMemoryTableScanExec => s +: nodes(s.relation.cachedPlan)
        case n => Seq(n)
      }
    val docs = Seq((1L, textA), (2L, textA), (3L, textC), (4L, textC))
      .toDF("doc_id", "text")
    val out = NearDup.dedupByMinhash(docs, "doc_id", "text", 0.8)
    assert(out.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 3L))
    val all = nodes(out.queryExecution.executedPlan)
    assert(all.exists(_.isInstanceOf[InMemoryTableScanExec]))
    val stringKeyed = all.collect {
      case j: BroadcastHashJoinExec
          if j.leftKeys.exists(_.dataType == StringType) => j
    }
    assert(stringKeyed.isEmpty, stringKeyed.mkString("\n"))
    CacheRegistry.release()
  }

  test("dedupBySemanticCells: within-cell near-dups go, cross-cell stay") {
    val cents = Seq((0L, Seq(1.0, 0.0, 0.0, 0.0)),
      (1L, Seq(0.0, 1.0, 0.0, 0.0))).toDF("cent_id", "cv")
    val vecs = Seq(
      (1L, Seq(10.0, 0.0, 0.0, 0.0)), // cell 0, survives (min id)
      (2L, Seq(9.9, 0.1, 0.0, 0.0)), // cell 0, cos~1 with 1 -> removed
      (3L, Seq(0.0, 10.0, 0.0, 0.0)), // cell 1, survives
      (4L, Seq(10.0, 0.0, 0.0, 0.0)), // exact dup of 1 -> removed
      (5L, Seq(0.6, 0.55, 0.0, 0.0)), // cell 0, cos .74 with 1 -> stays
      (6L, Seq(0.55, 0.6, 0.0, 0.0))) // cell 1: cos .996 with 5 BUT
      // different cells — both survive (the geometric prefilter's
      // documented recall boundary, like an LSH miss)
      .toDF("vec_id", "v")
    val out = NearDup.dedupBySemanticCells(
      vecs, "vec_id", "v", cents, "cent_id", "cv", threshold = 0.9)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 3L, 5L, 6L))
  }

  test("dedupBySemanticCellsIncremental: existing wins, batch min-id wins") {
    val cents = Seq((0L, Seq(1.0, 0.0, 0.0, 0.0)),
      (1L, Seq(0.0, 1.0, 0.0, 0.0))).toDF("cent_id", "cv")
    val existing = Seq((100L, Seq(10.0, 0.1, 0.0, 0.0))) // cell 0
      .toDF("vec_id", "v")
    val existingIndex = graft.operators.Ann.ivfAssign(
      existing, "vec_id", "v", cents, "cent_id", "cv")
    val incoming = Seq(
      (1L, Seq(9.9, 0.0, 0.0, 0.0)), // ~existing 100 -> removed even
      // though 1 < 100: existing is canonical
      (2L, Seq(0.0, 10.0, 0.0, 0.0)), // cell 1, survives
      (3L, Seq(0.1, 9.9, 0.0, 0.0)), // ~2, 2 < 3 -> removed
      (5L, Seq(0.0, 10.0, 0.0, 0.0))) // exact dup of 2 -> removed
      .toDF("vec_id", "v")
    val out = NearDup.dedupBySemanticCellsIncremental(
      incoming, "vec_id", "v", existingIndex, cents, "cent_id", "cv",
      threshold = 0.9)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(2L))
  }

  test("CacheRegistry drains the operators' persisted removed-id frames") {
    CacheRegistry.release() // start from a clean registry
    val docs = Seq((1L, textA), (2L, textA), (3L, textC))
      .toDF("doc_id", "text")
    val before = CacheRegistry.pending
    NearDup.dedupByMinhash(docs, "doc_id", "text", 0.8).count()
    // r13: the operator tracks TWO frames — the shingle cache (which
    // replaced the try/finally-unpersist + eager-count barrier) and
    // the removed-id set
    assert(CacheRegistry.pending == before + 2)
    CacheRegistry.release()
    assert(CacheRegistry.pending == 0)
    // releasing is safe even while results are still referenced:
    // the frame just recomputes on the next action
    val survivors = NearDup.dedupByMinhash(docs, "doc_id", "text", 0.8)
    CacheRegistry.release()
    assert(survivors.count() == 2)
  }

  test("containmentPairs: excerpt-in-source found both ways, tau gates") {
    import spark.implicits._
    val source = "a b c d e f g h i j k l m n o p q r s t"
    val excerpt = "a b c d e f"         // 4 shingles, all in source
    val half = "a b c d x y z w q2 r2"  // 2 of 8 shingles in source
    val tiny = "a b"                    // < 3 tokens: no shingles
    val docs = Seq((1L, source), (2L, excerpt), (3L, half), (4L, tiny))
      .toDF("doc_id", "text")
    val got = NearDup.containmentPairs(docs, "doc_id", "text", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6)))
    // source has 18 shingles, excerpt 4, intersection 4:
    // cont(excerpt→source)=1.0 (kept), cont(source→excerpt)=4/18
    assert(got.toSeq === Seq((1L, 2L, 4L, 18L, 4L,
      math.rint(4.0 / 18 * 1e6) / 1e6, 1.0)))
    // jaccard of the kept pair is 4/18 ≈ 0.22 — the symmetric measure
    // would need a 0.22 threshold to see it; containment sees 1.0
    // at tau 0.2: (1,2) stays, (1,3) enters at 2/8 = 0.25, and
    // (2,3) enters at 2/4 = 0.5
    val loose = NearDup.containmentPairs(docs, "doc_id", "text", 0.2)
      .collect()
    assert(loose.length == 3, "partially-contained pairs at tau 0.2")
  }

  test("maxDf hot-gram guard: a boilerplate shingle in every doc " +
    "stops amplifying the gram join; genuine excerpts still drop; " +
    "guard-on survivors are a superset of exact") {
    import spark.implicits._
    // 40 docs sharing ONE boilerplate shingle (h1 h2 h3) + unique
    // tails: every pair shares exactly that gram (cont 1/4 = 0.25),
    // so at tau 0.2 the exact join emits all C(40,2) = 780 pairs —
    // the df² amplification in miniature (at 100 TB, df ~10⁶ makes
    // this a 10¹²-row join)
    val boiler = (0 until 40).map(i => (i.toLong, s"h1 h2 h3 x$i y$i z$i"))
    val docs = boiler.toDF("doc_id", "text")
    val exact = NearDup.containmentPairs(docs, "doc_id", "text", 0.2)
    assert(exact.count() == 780L, "exact: every pair via the hot gram")
    // guard on: the hot gram (df 40 > 10) leaves the join; no pair
    // shares anything else, so the candidate space collapses to zero
    val capped = NearDup.containmentPairs(docs, "doc_id", "text", 0.2,
      maxDf = 10)
    assert(capped.count() == 0L, "capped: boilerplate-only pairs gone")
    // the drop-with-log half: exactly the boilerplate gram, df = 40
    val hot = NearDup.hotGrams(docs, "doc_id", "text", maxDf = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(hot.toSeq === Seq(("h1 h2 h3", 40L)))

    // a GENUINE excerpt relation rides non-hot grams and survives the
    // guard; its containment is reported as a LOWER bound (full n_a)
    val source = (100L, "h1 h2 h3 a b c d e f g h i j")
    val excerpt = (101L, "a b c d e f") // 4 shingles, none hot, all in source
    val docs2 = (boiler :+ source :+ excerpt).toDF("doc_id", "text")
    val pair = NearDup.containmentPairs(docs2, "doc_id", "text", 0.9,
      maxDf = 10).filter(col("id_a") === 100L && col("id_b") === 101L)
      .collect()
    assert(pair.length == 1 && pair(0).getDouble(6) == 1.0,
      "excerpt→source containment via non-hot grams only")
    // conservative contract: guard-on keeps a SUPERSET of exact's
    // survivors (capped containment only underestimates)
    val exactKept = NearDup.dedupByContainment(docs2, "doc_id", "text",
      0.9).collect().map(_.getLong(0)).toSet
    val cappedKept = NearDup.dedupByContainment(docs2, "doc_id", "text",
      0.9, maxDf = 10).collect().map(_.getLong(0)).toSet
    assert(exactKept.subsetOf(cappedKept))
    assert(!cappedKept.contains(101L), "the genuine excerpt still drops")

    // incremental path: hot gram capped on BOTH sides of the history
    // join, genuine excerpt of history still drops
    val idx = NearDup.containmentGramIndex(docs2, "doc_id", "text")
    val incoming = Seq(
      (200L, "a b c d e f"),             // excerpt of shipped 100: drops
      (201L, "h1 h2 h3 q1 q2 q3"))       // shares only the hot gram: stays
      .toDF("doc_id", "text")
    val (surv, _) = NearDup.dedupByContainmentIncremental(
      incoming, "doc_id", "text", idx, 0.9, maxDf = 10)
    assert(surv.collect().map(_.getLong(0)).toSet === Set(201L))
  }

  test("maxDf incremental cascade is per-decision, NOT end-to-end " +
    "superset (the documented contract): a capped history miss can " +
    "displace an in-batch doc the exact run kept") {
    import spark.implicits._
    // history: 3 docs sharing boilerplate B (10 pure-B shingles, so
    // df(B-gram) = 3 > maxDf = 2); H additionally carries d-content
    val b = (1 to 12).map(i => s"b$i").mkString(" ")
    val history = Seq(
      (1L, s"$b d1 d2 d3 d4"), (2L, s"$b e1"), (3L, s"$b f1"))
      .toDF("doc_id", "text")
    val idx = NearDup.containmentGramIndex(history, "doc_id", "text")
    // X = B + c-content: exact cont(X→H) = 10/13 ≥ 0.7 → drops vs
    // history; Y = excerpt of X's c-content only
    val incoming = Seq((10L, s"$b c1 c2 c3"), (11L, "c1 c2 c3"))
      .toDF("doc_id", "text")
    val (exact, _) = NearDup.dedupByContainmentIncremental(
      incoming, "doc_id", "text", idx, 0.7)
    assert(exact.collect().map(_.getLong(0)).toSet === Set(11L),
      "exact: X drops against history, Y survives")
    // capped: B-grams leave the history join → X survives history,
    // then legitimately absorbs its own excerpt Y in-batch. Survivor
    // SET flips {11} → {10}: per-decision conservative, not superset.
    val (capped, _) = NearDup.dedupByContainmentIncremental(
      incoming, "doc_id", "text", idx, 0.7, maxDf = 2)
    assert(capped.collect().map(_.getLong(0)).toSet === Set(10L),
      "capped: the cascade keeps the richer doc instead")
  }

  test("containment default is the FINITE hot-gram cap; exhaustive " +
    "is an explicit opt-in (the round-11 scale contract)") {
    import spark.implicits._
    // the default must be finite and documented — a df² join with no
    // cap is the family's only superlinear cliff at 100 TB
    assert(NearDup.ContainmentMaxDfDefault == 500)
    assert(NearDup.ContainmentExhaustive == Int.MaxValue)
    // 520 docs share ONE gram (df 520 > default 500) + unique tails:
    // pairs exist ONLY through the hot gram (cont 1/4 at tau 0.2)
    val docs = (0 until 520).map(i => (i.toLong, s"p1 p2 p3 x$i y$i z$i"))
      .toDF("doc_id", "text")
    // default call: the cap fires with NO maxDf argument
    assert(NearDup.containmentPairs(docs, "doc_id", "text", 0.2)
      .count() == 0L, "default run caps the hot gram")
    // the default IS ContainmentMaxDfDefault, not some other cap
    assert(NearDup.containmentPairs(docs, "doc_id", "text", 0.2,
      maxDf = NearDup.ContainmentMaxDfDefault).count() == 0L)
    // exhaustive opt-in restores the exact (df²) semantics
    assert(NearDup.containmentPairs(docs, "doc_id", "text", 0.2,
      maxDf = NearDup.ContainmentExhaustive).count() == 520L * 519 / 2)
    // dedup rides the same default: under the cap nobody pairs, so
    // everyone survives; exhaustive keeps exactly one (equal shingle
    // counts resolve to the min id, chain-free fixture)
    assert(NearDup.dedupByContainment(docs, "doc_id", "text", 0.2)
      .count() == 520L)
    val exact = NearDup.dedupByContainment(docs, "doc_id", "text", 0.2,
      maxDf = NearDup.ContainmentExhaustive)
    assert(exact.count() < 520L, "exhaustive opt-in still dedups")
  }

  test("dedupByContainment: excerpts drop, chains keep the root, ties keep min id") {
    import spark.implicits._
    val a = "a b c d e f g h i j k l"   // 10 shingles — the root
    val b = "a b c d e f g h"           // 6 shingles, all in a
    val c = "a b c d e"                 // 3 shingles, in both a and b
    val docs = Seq((1L, a), (2L, b), (3L, c),
      (10L, "x y z w v u"), (11L, "x y z w v u"), // exact twins
      (20L, "p q r s t")).toDF("doc_id", "text")
    val kept = NearDup.dedupByContainment(docs, "doc_id", "text", 0.9)
      .collect().map(_.getLong(0)).toSet
    // chain c ⊂ b ⊂ a keeps only a; twins keep min id; 20 untouched
    assert(kept === Set(1L, 10L, 20L))
  }

  test("dedupByContainmentIncremental: history wins its excerpts, late sources stay") {
    import spark.implicits._
    val source = "a b c d e f g h i j k l"
    val history = Seq((1L, source)).toDF("doc_id", "text")
    val idx = NearDup.containmentGramIndex(history, "doc_id", "text")
    val incoming = Seq(
      (2L, "a b c d e f"),               // excerpt of shipped doc: drops
      (3L, source + " m n o p q r s t"), // SUPERSET of history: stays
      (4L, "z1 z2 z3 z4 z5 z6 z7"),      // fresh: stays
      (5L, "z1 z2 z3 z4 z5"))            // excerpt of 4 IN BATCH: drops
      .toDF("doc_id", "text")
    val (surv, updated) = NearDup.dedupByContainmentIncremental(
      incoming, "doc_id", "text", idx, 0.9)
    assert(surv.collect().map(_.getLong(0)).toSet === Set(3L, 4L))
    // updated index = history + survivors only; dropped docs never enter
    val idxIds = updated.select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(idxIds === Set(1L, 3L, 4L))

    // empty existing index == the batch operator
    val empty = idx.filter(lit(false))
    val (survEmpty, _) = NearDup.dedupByContainmentIncremental(
      incoming, "doc_id", "text", empty, 0.9)
    val batch = NearDup.dedupByContainment(incoming, "doc_id", "text", 0.9)
      .collect().map(_.getLong(0)).toSet
    assert(survEmpty.collect().map(_.getLong(0)).toSet === batch)
  }

  test("dedupBySignaturePair: B-signature vetoes what A alone would collapse") {
    import spark.implicits._
    def bits(ps: Int*): Long = ps.foldLeft(0L)((a, p) => a | (1L << p))
    val rows = Seq(
      (1L, 0L, 0L),                      // anchor
      (2L, bits(5), bits(9)),            // A:1 bit, B:1 bit -> dropped
      (3L, bits(7), bits(1, 2, 3, 40)),  // A:1 bit, B:4 bits -> VETO
      (4L, bits(0, 8, 16, 24, 32, 40, 48, 56), bits(9)), // A far -> stays
      (5L, bits(1, 9, 17, 25, 33, 41, 49, 57), bits(61)), // A far from all
      (6L, bits(1, 9, 17, 25, 33, 41, 49, 57), bits(61))) // identical twin
                                                          // of 5 -> dropped
      .toDF("id", "a", "b")
    val kept = NearDup.dedupBySignaturePair(rows, "id", "a", "b",
      maxHamA = 3, maxHamB = 3)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 3L, 4L, 5L))
    // sanity: single-signature dedup on A alone WOULD have dropped 3
    val aOnly = NearDup.dedupBySignature(
      rows.select(col("id"), col("a")), "id", "a", maxHamming = 3)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(!aOnly.contains(3L))
  }

  test("dedupByContainmentIncremental: late superset inside the tau band survives") {
    import spark.implicits._
    // H = 12 tokens → 10 shingles; D = H + one token → 11 shingles,
    // cont(D→H) = 10/11 ≈ 0.909 ≥ 0.9 — in the band, but D is
    // strictly larger, so keep-largest parity with the batch policy
    // keeps D (dropping it would destroy the novel token)
    val src = "a b c d e f g h i j k l"
    val idx = NearDup.containmentGramIndex(
      Seq((1L, src)).toDF("doc_id", "text"), "doc_id", "text")
    val incoming = Seq((2L, src + " zz")).toDF("doc_id", "text")
    val (surv, updated) = NearDup.dedupByContainmentIncremental(
      incoming, "doc_id", "text", idx, 0.9)
    assert(surv.collect().map(_.getLong(0)).toSet === Set(2L))
    assert(updated.select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    // an EQUAL-size twin resolves in history's favor — shipped doc
    // plays the min-id role
    val twin = Seq((3L, src)).toDF("doc_id", "text")
    val (survTwin, _) = NearDup.dedupByContainmentIncremental(
      twin, "doc_id", "text", idx, 0.9)
    assert(survTwin.count() == 0)
  }

  test("containment gram keys: pure function of gram text — a v1 " +
    "text-gram asset migrates row-identically to a fresh v2 build, " +
    "and un-migrated v1 assets are refused with the pointer") {
    import graft.functions.TextOps
    val history = Seq((1L, textA), (2L, textC), (3L, textE))
      .toDF("doc_id", "text")
    val v2 = NearDup.containmentGramIndex(history, "doc_id", "text")
    // the v1 (pre-hash) index derivation: text grams, same rows
    val pre = history.withColumn("__tk", TextOps.tokens(col("text")))
      .select(col("doc_id"), TextOps.shingles3(col("__tk")).as("sh"))
      .filter(size(col("sh")) > 0)
    val v1 = pre.select(col("doc_id"), explode(col("sh")).as("gram"),
      size(col("sh")).cast("long").as("n_grams"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("gram.h1"), col("gram.h2"),
        col("n_grams"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
    assert(rows(NearDup.migrateContainmentIndexV1(v1)) === rows(v2),
      "migration = projection; keys derive from gram text alone")
    // key-collision semantics pinned: distinct grams get distinct
    // keys here (the 2^-128 bound is documented on the key), and a
    // REPEATED gram across docs gets the SAME key — df over keys
    // equals df over text
    val keyed = rows(v2)
    assert(keyed.map(r => (r._2, r._3)).size ==
      v1.select("gram").distinct().count(),
      "distinct text grams <-> distinct keys on this corpus")
    // un-migrated v1 assets are refused, not silently no-op'd (text
    // joined against hashed keys would match nothing and 'dedup'
    // nothing)
    val err = intercept[IllegalArgumentException] {
      NearDup.dedupByContainmentIncremental(
        history, "doc_id", "text", v1, 0.9)
    }
    assert(err.getMessage.contains("migrateContainmentIndexV1"))
  }

  test("dedupByContainmentIncrementalWithDf: survivor parity with " +
    "the index-aggregated cap, merged asset == recount, and the " +
    "history index is scanned ONCE (the two capGramsByDf scans gone)") {
    val b = (1 to 12).map(i => s"b$i").mkString(" ")
    val history = Seq(
      (1L, s"$b d1 d2 d3 d4"), (2L, s"$b e1"), (3L, s"$b f1"))
      .toDF("doc_id", "text")
    val dir = tmpDir("graft_cont_asset")
    NearDup.containmentGramIndex(history, "doc_id", "text")
      .write.parquet(s"$dir/idx")
    val idx = spark.read.parquet(s"$dir/idx")
    NearDup.containmentGramDf(idx).write.parquet(s"$dir/df")
    val asset = spark.read.parquet(s"$dir/df")
    val incoming = Seq((10L, s"$b c1 c2 c3"), (11L, "c1 c2 c3"))
      .toDF("doc_id", "text")
    val (s1, _) = NearDup.dedupByContainmentIncremental(
      incoming, "doc_id", "text", idx, 0.7, maxDf = 2)
    val (s2, u2, d2) = NearDup.dedupByContainmentIncrementalWithDf(
      incoming, "doc_id", "text", idx, asset, 0.7, maxDf = 2)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids(s1) === ids(s2), "asset cap == index-aggregated cap")
    assert(ids(s2) === Set(10L), "the documented capped-cascade result")
    // merged asset == recount over the merged index (the t93-style
    // merge arithmetic never drifts from the ground truth)
    def dfMap(df: org.apache.spark.sql.DataFrame) =
      df.select(col("gram.h1"), col("gram.h2"), col("df"))
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
        .toMap
    assert(dfMap(d2) === dfMap(NearDup.containmentGramDf(u2)))
    // the production claim, asserted on the PLAN: the base variant's
    // capGramsByDf pays two scans of the persisted index (df
    // aggregate + anti-join probe); the asset path pays one. The
    // history join lives inside the persisted drop-id frame, so
    // count file scans both in the visible logical plan and inside
    // each DISTINCT cached plan (multiple references to one cache
    // execute its scans once).
    import org.apache.spark.sql.execution.datasources.{
      HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    def physScans(p: SparkPlan): Int = {
      val self = p match {
        case f: FileSourceScanExec if f.relation.location.rootPaths
          .exists(_.toString.contains("/idx")) => 1
        case _ => 0
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.inputPlan)
        case other => other.children
      }
      self + kids.map(physScans).sum
    }
    def idxScans(df: org.apache.spark.sql.DataFrame): Int = {
      val plan = df.queryExecution.optimizedPlan
      val logical = plan.collect {
        case l: LogicalRelation => l.relation match {
          case h: HadoopFsRelation
            if h.location.rootPaths.exists(_.toString.contains("/idx")) => 1
          case _ => 0
        }
      }.sum
      val seen = scala.collection.mutable.Set[Int]()
      val cached = plan.collect {
        case im: InMemoryRelation
            if seen.add(System.identityHashCode(im.cachedPlan)) =>
          physScans(im.cachedPlan)
      }.sum
      logical + cached
    }
    assert(idxScans(s1) == 2, "base variant: df aggregate + probe")
    assert(idxScans(s2) == 1, "asset path: the one history join scan")
    // and the batch is tokenized/shingled exactly ONCE (the r9
    // double-shingle finding): every Ngrams chain in the survivors
    // plan lives inside the single persisted gram frame
    // (InMemoryRelation), so the visible logical plan carries none
    def ngramCount(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case p =>
        p.expressions.map(_.collect {
          case n: graft.expressions.Ngrams => n
        }.size).sum
      }.sum
    assert(ngramCount(s2) == 0,
      "no second tokenize/shingle chain outside the persisted frame")
    assert(ngramCount(s1) == 0,
      "base variant inherits the single-pass core too")
  }
}
