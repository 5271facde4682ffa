package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keep-latest / dedup operators (SURVEY.md §2 D1–D5) — THE reference
  * pattern: every gold upsert is preceded by
  *   ROW_NUMBER() OVER (PARTITION BY key ORDER BY loaded_at DESC) = 1
  * (normalize_pipedrive.py:122-133 and 12 more call sites).
  */
object Dedup {

  /** Latest row per key, ordering by `orderCols` descending with the
    * caller expected to make the ordering total (pass a unique
    * tie-break last — nondeterministic keep-latest is how silent
    * flapping between equally-recent versions happens). */
  def keepLatest(df: DataFrame, keys: Seq[String],
      orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderCols.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Exact duplicate removal on a subset of columns (D4). */
  def distinctOn(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(cols.map(col): _*).distinct()

  /** FIELD-level survivorship (MDM "golden record"): per `keys`
    * cluster, each requested string field independently resolves to
    * its MODAL non-null value, ties to the lexicographically smallest
    * — the D-family completed from row-level winners ([[keepLatest]],
    * the t60 canonical pick) to fused records, which is what entity
    * resolution emits after matching. One pass regardless of field
    * count: fields unpivot to (key, field, value) rows, ONE count
    * aggregate + ONE modal-pick aggregate, then a pivot-back
    * projection — 2 narrow shuffles total, nothing proportional to
    * |fields|. NULL field values never become candidates (a cluster
    * whose field is all-NULL stays NULL). Also returns `n_members`,
    * the cluster size. */
  def goldenRecord(df: DataFrame, keys: Seq[String],
      fields: Seq[String]): DataFrame = {
    require(fields.nonEmpty)
    val k = keys.map(col)
    val unpivoted = df.select((k :+ explode(map(
      fields.flatMap(f => Seq(lit(f), col(f).cast("string"))): _*))
      .as(Seq("__field", "__value"))): _*)
      .filter(col("__value").isNotNull)
    val counts = unpivoted
      .groupBy((k :+ col("__field")) :+ col("__value"): _*)
      .agg(count(lit(1)).as("__cnt"))
    // min_by over (-cnt, value): highest count first, then smallest
    // value — a total order, so the pick is deterministic
    val modal = counts
      .groupBy(k :+ col("__field"): _*)
      .agg(min_by(col("__value"),
        struct((-col("__cnt")).as("a"), col("__value").as("b")))
        .as("__modal"))
    val sizes = df.groupBy(k: _*).agg(count(lit(1)).as("n_members"))
    // pivot with EXPLICIT field values: one aggregate, not one join
    // per field; each (key, field) has exactly one modal row so
    // first() is deterministic
    val picks = modal.groupBy(k: _*)
      .pivot("__field", fields).agg(first(col("__modal")))
    sizes.join(picks, keys, "left")
      .select((k ++ fields.map(col) :+ col("n_members")): _*)
  }

  /** PARAGRAPH-level corpus dedup — the Dolma/FineWeb recipe that
    * sits between document-level dedup (t01) and token-span removal
    * ([[SpanStats.removeDuplicatedSpans]]): split each document into
    * structural units on `sep`, drop every paragraph that appears in
    * more than `maxDocFreq` DISTINCT documents (all copies go —
    * keep-first would depend on corpus order), and rebuild the
    * survivors in original order. Within-document repetition is out
    * of scope by construction (distinct-doc counting), as in t53.
    *
    * Output: (idCol, cleaned, n_removed); fully-boilerplate documents
    * come out as empty strings for downstream length filters.
    *
    * Scale shape (the t53 discipline): paragraph TEXT never crosses a
    * dedup shuffle — the working frame is (id, pid, md5) rows, the
    * doc-frequency pass aggregates distinct (doc, hash) pairs, and
    * the boilerplate set semi-joins back by hash (AQE splits hot
    * boilerplate hashes). Dropped POSITIONS collapse to one bounded
    * array per document, the join back to the corpus is id-keyed and
    * narrow, and the rebuild is row-local: re-split the original text
    * and filter by index. The only shuffle that carries document text
    * is that final id-keyed join — unavoidable, since the output IS
    * reassembled text. */
  def dedupParagraphs(docs: DataFrame, idCol: String, textCol: String,
      sep: String = "\n", maxDocFreq: Int = 1): DataFrame = {
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1, got $maxDocFreq")
    val work = paragraphWork(docs, idCol, textCol, sep)
    val common = work.select(col(idCol), col("__h")).distinct()
      .groupBy("__h").agg(count(lit(1)).as("__dc"))
      .filter(col("__dc") > maxDocFreq)
      .select("__h")
    rebuildWithout(docs, idCol, textCol, sep,
      work.join(common, Seq("__h"), "left_semi"))
  }

  /** (id, pid, md5(paragraph)) working frame — the paragraph string
    * is hashed and dropped before anything wide happens. split(null)
    * explodes to zero rows, which would DROP the doc from the output
    * entirely — null-text docs surface as ("", 0) via the final left
    * join in [[rebuildWithout]]. */
  private def paragraphWork(docs: DataFrame, idCol: String,
      textCol: String, sep: String): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol),
        posexplode(split(col(textCol),
          java.util.regex.Pattern.quote(sep))))
      .toDF(idCol, "__pid", "__para")
      .select(col(idCol), col("__pid"), md5(col("__para")).as("__h"))

  /** Rebuild documents minus the paragraphs in `droppedRows` (rows of
    * (id, pid, ...)): positions collapse to one bounded array per
    * doc, the join back to the corpus is id-keyed and narrow, and the
    * rebuild is row-local — re-split the original text and filter by
    * index. The only shuffle carrying document text is this final
    * id-keyed join. */
  private def rebuildWithout(docs: DataFrame, idCol: String,
      textCol: String, sep: String, droppedRows: DataFrame): DataFrame = {
    val sepLit = java.util.regex.Pattern.quote(sep)
    val dropped = droppedRows
      .groupBy(col(idCol))
      .agg(collect_list(col("__pid")).as("__drops"))
    docs.join(dropped, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__drops").isNull, coalesce(col(textCol), lit("")))
          .otherwise(array_join(
            filter(split(col(textCol), sepLit),
              (_, i) => !array_contains(col("__drops"), i)), sep))
          .as("cleaned"),
        // explicit null branch: size(null) is config-dependent
        // (-1 legacy, null ANSI) — neither is the 0 we mean
        when(col("__drops").isNull, lit(0L))
          .otherwise(size(col("__drops")).cast("long"))
          .as("n_removed"))
  }

  /** Paragraph-frequency index of a corpus: (p_hash, n_docs) — the
    * compact asset [[dedupParagraphsIncremental]] dedups a daily
    * append against, so the historical corpus text is never re-read.
    * Counts are DISTINCT documents per paragraph hash, the same
    * equivalence the batch operator uses. */
  def paragraphIndex(docs: DataFrame, idCol: String, textCol: String,
      sep: String = "\n"): DataFrame =
    paragraphWork(docs, idCol, textCol, sep)
      .select(col(idCol), col("__h")).distinct()
      .groupBy("__h").agg(count(lit(1)).as("n_docs"))
      .select(col("__h").as("p_hash"), col("n_docs"))

  /** INCREMENTAL paragraph dedup — the daily-append production shape
    * (the t26/t78 pattern at paragraph granularity): dedup `docs`
    * against a [[paragraphIndex]] of the already-ingested corpus
    * plus themselves. A paragraph is dropped from every incoming doc
    * when its historical doc count PLUS its incoming distinct-doc
    * count exceeds `maxDocFreq` — with an empty index this is
    * exactly [[dedupParagraphs]] (spec-asserted).
    *
    * Returns (cleanedDocs, updatedIndex). The updated index counts
    * every paragraph SEEN — including ones just dropped — because
    * the corpus has seen them: a paragraph that arrives again
    * tomorrow is still boilerplate. Persist it and pass it back next
    * batch; the historical corpus text is never re-read.
    *
    * The two returned frames share intermediates (the incoming
    * split+hash pass and the index join), which are persisted
    * MEMORY_AND_DISK here so materializing BOTH outputs — the
    * documented workflow — splits and hashes the batch once, not
    * once per action. Both intermediates carry hashes and counts
    * only (never document text) and are sized by the incoming batch,
    * not the corpus; they register with [[graft.CacheRegistry]], so a
    * long-lived daily-append loop frees them between batches with
    * `CacheRegistry.release()` (the Bench discipline) instead of
    * nuking the whole session cache. */
  def dedupParagraphsIncremental(docs: DataFrame, idCol: String,
      textCol: String, existingIndex: DataFrame, sep: String = "\n",
      maxDocFreq: Int = 1): (DataFrame, DataFrame) = {
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1, got $maxDocFreq")
    val work = graft.CacheRegistry.track(
      paragraphWork(docs, idCol, textCol, sep)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val incoming = work.select(col(idCol), col("__h")).distinct()
      .groupBy("__h").agg(count(lit(1)).as("__n_inc"))
    val ex = existingIndex
      .select(col("p_hash").as("__h"), col("n_docs").as("__n_ex"))
    val combined = graft.CacheRegistry.track(
      incoming.join(ex, Seq("__h"), "left")
        .withColumn("__n_ex", coalesce(col("__n_ex"), lit(0L)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val common = combined
      .filter(col("__n_inc") + col("__n_ex") > maxDocFreq)
      .select("__h")
    val cleaned = rebuildWithout(docs, idCol, textCol, sep,
      work.join(common, Seq("__h"), "left_semi"))
    val updated = combined
      .select(col("__h"), (col("__n_inc") + col("__n_ex")).as("n_docs"))
      .unionByName(ex.join(incoming, Seq("__h"), "left_anti")
        .select(col("__h"), col("__n_ex").as("n_docs")))
      .select(col("__h").as("p_hash"), col("n_docs"))
    (cleaned, updated)
  }
}
