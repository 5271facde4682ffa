package graft.pipeline

import graft.gold.{Evo, Pipedrive, Zendesk}
import graft.operators.{MergeOps, ParquetTableFormat, TableFormat}
import graft.silver.SilverLoader
import graft.sources.Bronze
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end orchestration: bronze JSONL → silver parquet → gold
  * parquet, per source system — the Spark re-expression of
  * daily_pipeline.ps1 (SURVEY.md §3.1) with the reference's stage
  * ordering (dimensions before facts, normalize_pipedrive.py:924-939).
  *
  * Layout under `root`:
  *   bronze/{source}/...           raw gzip JSONL (Bronze layout)
  *   silver/{source}/{entity}      lineage + raw_data parquet
  *   gold/{table}                  typed star-schema parquet
  *
  * Write modes per table mirror §2 K7–K10: keyed upsert for normal
  * increments, full refresh when the caller knows most rows changed,
  * partition replace for the year-partitioned entries table.
  *
  * Silver loads read bronze through `Bronze.readRun`: one pass over
  * the loaded run's files only (pruned at the file listing), so a
  * load costs in proportion to the run, not to the bronze history.
  */
class MedallionPipeline(spark: SparkSession, root: String,
    val format: TableFormat = ParquetTableFormat) {

  def silverPath(source: String, entity: String) =
    s"$root/silver/$source/$entity"
  def goldPath(table: String) = s"$root/gold/$table"

  /** A run may carry only a subset of entities (e.g. members-only
    * increment); transforms skip sources that were never loaded.
    * Silver is ALWAYS parquet (SilverLoader's layer), whatever format
    * the gold tables bind to — so it is read through MergeOps, not
    * through `format`. */
  private def withSilver(source: String, entity: String)(
      f: DataFrame => Unit): Unit =
    MergeOps.readIfExists(spark, silverPath(source, entity)).foreach(f)

  // ------------------------------------------------------------------ EVO

  /** Bronze→silver for one EVO entity (replacing mode, natural key). */
  def loadEvoSilver(entity: String, keyField: String, runId: String,
      loadedAt: java.sql.Timestamp): Unit = {
    val bronze = Bronze.readRun(spark, s"$root/bronze", "evo", entity, runId)
    SilverLoader.loadReplacing(spark, bronze,
      silverPath("evo", entity),
      Map(s"${keyField}_key" -> SilverLoader.jsonLongKey(keyField)),
      runId, loadedAt)
  }

  /** EVO entries use the deterministic MD5 surrogate (K6) as silver key
    * and require a date (K5). */
  def loadEvoEntriesSilver(runId: String,
      loadedAt: java.sql.Timestamp): Unit = {
    val bronze = Bronze.readRun(spark, s"$root/bronze", "evo", "entries", runId)
    val keyed = bronze.filter(
      get_json_object(col("raw_line"), "$.date").isNotNull)
    SilverLoader.loadReplacing(spark, keyed,
      silverPath("evo", "entries"),
      Map("entry_key" -> graft.functions.Keys.entryId(
        get_json_object(col("raw_data"), "$.date"),
        get_json_object(col("raw_data"), "$.idMember"),
        get_json_object(col("raw_data"), "$.idProspect"),
        get_json_object(col("raw_data"), "$.idEmployee"),
        get_json_object(col("raw_data"), "$.idBranch"),
        get_json_object(col("raw_data"), "$.device"),
        get_json_object(col("raw_data"), "$.entryAction"))),
      runId, loadedAt)
  }

  /** Silver→gold for the whole EVO star.
    *
    * Modes (SURVEY.md §2 K7/K9/K10 + incremental contract §2.9):
    *  - default: derive from FULL silver, keyed upsert — correct
    *    always, cost ∝ table size;
    *  - `fullRefresh`: TRUNCATE+INSERT fast path when most rows changed;
    *  - `onlyRun = Some(r)`: incremental — transform only the silver
    *    rows last written by run `r` and upsert that delta. This is the
    *    daily mode at 100TB: cost ∝ delta, not ∝ 110M-row history.
    *    Entries switch from year-partition replace to keyed upsert here
    *    (replacing a year with only the delta's rows would drop the
    *    rest of the year). */
  def transformEvo(fullRefresh: Boolean = false,
      onlyRun: Option[String] = None): Unit = {
    require(!(fullRefresh && onlyRun.nonEmpty),
      "fullRefresh and onlyRun are mutually exclusive")
    def slice(df: DataFrame): DataFrame =
      onlyRun.map(r => df.filter(col("run_id") === r)).getOrElse(df)
    def write(df: DataFrame, table: String, keys: Seq[String]): Unit =
      if (fullRefresh) format.fullRefresh(spark, df, goldPath(table))
      else format.upsert(spark, df, goldPath(table), keys, "_updated_at",
        preserveOnUpdate = Seq("_loaded_at"))

    // three tables derive from one silver frame: parse the 55-field
    // JSON ONCE and persist the parsed frame across the three writes
    // (MEMORY_AND_DISK — spills instead of OOMing at scale), instead
    // of re-running from_json per transformer
    withSilver("evo", "members") { members0 =>
      val members = Evo.parseMembers(slice(members0)).persist()
      try {
        write(Evo.members(members), "evo_members", Seq("member_id"))
        write(Evo.memberMemberships(members), "evo_member_memberships",
          Seq("member_id", "member_membership_id"))
        write(Evo.memberContacts(members), "evo_member_contacts",
          Seq("phone_id", "member_id"))
      } finally members.unpersist()
    }
    withSilver("evo", "sales") { sales0 =>
      val sales = Evo.parseSales(slice(sales0)).persist()
      try {
        write(Evo.sales(sales), "evo_sales", Seq("sale_id"))
        write(Evo.saleItems(sales), "evo_sale_items", Seq("sale_item_id"))
        write(Evo.receivables(sales), "evo_receivables",
          Seq("receivable_id"))
      } finally sales.unpersist()
    }
    withSilver("evo", "prospects") { prospects0 =>
      write(Evo.prospects(slice(prospects0)), "evo_prospects",
        Seq("prospect_id"))
    }
    withSilver("evo", "entries") { entries =>
      if (onlyRun.isEmpty)
        // full: year-partition replace (K10) — touched years rewrite
        format.replacePartitions(spark, Evo.entries(entries),
          goldPath("evo_entries"), "entry_year")
      else
        // incremental: keyed upsert of the delta only, keeping the
        // entry_year partition layout (flat files mixed into a
        // partitioned root corrupt later reads)
        format.upsert(spark, Evo.entries(slice(entries)),
          goldPath("evo_entries"), Seq("entry_id"), "_updated_at",
          preserveOnUpdate = Seq("_loaded_at"),
          partitionCols = Seq("entry_year"))
    }
  }

  // ------------------------------------------------------- Pipedrive / Zendesk

  def loadVersionedSilver(source: String, entity: String, runId: String,
      loadedAt: java.sql.Timestamp, scope: Option[String] = None): Unit = {
    val bronze = Bronze.readRun(spark, s"$root/bronze", source, entity,
      runId, scope)
    SilverLoader.loadVersioned(spark, bronze,
      silverPath(source, entity), runId, loadedAt,
      scoped = bronze.columns.contains("scope"))
  }

  /** Incremental slice for versioned silver: keep ALL versions of the
    * business ids touched by `run` (keep-latest needs the full history
    * of a touched id, but untouched ids can be skipped entirely — the
    * D1 window then runs over the delta's ids, not every version ever
    * loaded). */
  private def touchedIds(silver: DataFrame, run: String,
      scoped: Boolean): DataFrame = {
    val keyed = silver.withColumn("__bid",
      get_json_object(col("raw_data"), "$.id"))
    val keys = (if (scoped) Seq("scope") else Nil) :+ "__bid"
    val ids = keyed.filter(col("run_id") === run)
      .select(keys.map(col): _*).distinct()
    keyed.join(ids, keys, "left_semi").drop("__bid")
  }

  /** Dimension-before-fact ordering per the reference's normalize_all.
    * `onlyRun`: re-dedup and upsert only ids touched by that run. */
  def transformPipedrive(onlyRun: Option[String] = None): Unit = {
    def slice(df: DataFrame): DataFrame =
      onlyRun.map(r => touchedIds(df, r, scoped = true)).getOrElse(df)
    def write(df: DataFrame, table: String, keys: Seq[String]): Unit =
      format.upsert(spark, df, goldPath(table), keys, "_updated_at",
        preserveOnUpdate = Seq("_loaded_at"))
    withSilver("pipedrive", "pipelines")(df =>
      write(Pipedrive.pipelines(slice(df)), "pd_pipelines",
        Seq("pipeline_id", "scope")))
    withSilver("pipedrive", "stages")(df =>
      write(Pipedrive.stages(slice(df)), "pd_stages",
        Seq("stage_id", "scope")))
    withSilver("pipedrive", "users")(df =>
      write(Pipedrive.users(slice(df)), "pd_users", Seq("user_id", "scope")))
    withSilver("pipedrive", "organizations")(df =>
      write(Pipedrive.organizations(slice(df)), "pd_organizations",
        Seq("org_id", "scope")))
    withSilver("pipedrive", "persons")(df =>
      write(Pipedrive.persons(slice(df)), "pd_persons",
        Seq("person_id", "scope")))
    withSilver("pipedrive", "deals")(df =>
      write(Pipedrive.deals(slice(df)), "pd_deals", Seq("deal_id", "scope")))
    withSilver("pipedrive", "activities")(df =>
      write(Pipedrive.activities(slice(df)), "pd_activities",
        Seq("activity_id", "scope")))
  }

  def transformZendesk(onlyRun: Option[String] = None): Unit = {
    def slice(df: DataFrame): DataFrame =
      onlyRun.map(r => touchedIds(df, r, scoped = false)).getOrElse(df)
    def write(df: DataFrame, table: String, keys: Seq[String]): Unit =
      format.upsert(spark, df, goldPath(table), keys, "_updated_at",
        preserveOnUpdate = Seq("_loaded_at"))
    withSilver("zendesk", "organizations")(df =>
      write(Zendesk.organizations(slice(df)), "zd_organizations",
        Seq("organization_id")))
    withSilver("zendesk", "users")(df =>
      write(Zendesk.users(slice(df)), "zd_users", Seq("user_id")))
    withSilver("zendesk", "groups")(df =>
      write(Zendesk.groups(slice(df)), "zd_groups", Seq("group_id")))
    withSilver("zendesk", "ticket_fields")(df =>
      write(Zendesk.ticketFields(slice(df)), "zd_ticket_fields",
        Seq("field_id")))
    withSilver("zendesk", "ticket_forms")(df =>
      write(Zendesk.ticketForms(slice(df)), "zd_ticket_forms",
        Seq("form_id")))
    withSilver("zendesk", "tickets") { tickets0 =>
      val tickets = slice(tickets0)
      // four tables derive from the D1-latest version of each ticket:
      // run the keep-latest window ONCE and persist it (dedupLatest
      // recognizes the deduped frame and passes it through)
      val latest = Zendesk.dedupLatest(tickets).persist()
      try {
        write(Zendesk.tickets(latest), "zd_tickets", Seq("ticket_id"))
        // bridges: insert-ignore accumulation (K8) for the id/tag
        // arrays (04_core_zendesk.sql:228-268)
        format.insertIgnore(spark, Zendesk.ticketTags(latest),
          goldPath("zd_ticket_tags"), Seq("ticket_id", "tag"))
        format.insertIgnore(spark, Zendesk.ticketCollaborators(latest),
          goldPath("zd_ticket_collaborators"), Seq("ticket_id", "user_id"))
        format.insertIgnore(spark, Zendesk.ticketFollowers(latest),
          goldPath("zd_ticket_followers"), Seq("ticket_id", "user_id"))
      } finally latest.unpersist()
      // custom-fields bridge: keep-latest per (ticket_id, field_id) then
      // upsert — the reference's ON CONFLICT DO UPDATE
      // (normalize_zendesk.py:790-800). The D5 window needs the full
      // version history OF EACH TOUCHED TICKET, which is exactly what
      // touchedIds already preserves, so incremental cost is ∝ delta
      // tickets' history, not ∝ all history.
      format.upsert(spark, Zendesk.ticketCustomFields(tickets),
        goldPath("zd_ticket_custom_fields"), Seq("ticket_id", "field_id"),
        "_updated_at", preserveOnUpdate = Seq("_loaded_at"))
    }
  }

  /** Gold reads go through the bound format — the seam covers reads,
    * not just writes (an in-memory or transactional format has no
    * parquet files to read). */
  def gold(table: String): DataFrame =
    format.read(spark, goldPath(table)).getOrElse(
      throw new IllegalArgumentException(s"no gold table at $table"))
}
