package graft.views

import graft.functions.Keys
import graft.pipeline.MedallionPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Ad-hoc SQL entry point (SURVEY.md §3.3): registers every existing
  * gold table as a temp view under its reference name, plus the
  * analytics views, so `spark.sql("SELECT ... FROM evo_members ...")`
  * works exactly like querying the reference's core.* schema.
  */
object SqlGateway {

  val GoldTables: Seq[String] = Seq(
    "evo_members", "evo_member_memberships", "evo_member_contacts",
    "evo_sales", "evo_sale_items", "evo_receivables", "evo_entries",
    "evo_prospects",
    "pd_pipelines", "pd_stages", "pd_users", "pd_organizations",
    "pd_persons", "pd_deals", "pd_activities",
    "zd_organizations", "zd_users", "zd_groups", "zd_ticket_fields",
    "zd_ticket_forms", "zd_tickets", "zd_ticket_tags",
    "zd_ticket_custom_fields", "zd_ticket_collaborators",
    "zd_ticket_followers")

  /** Scope-filter convenience views (05_scope_views.sql:9-41): one view
    * per (table, scope). Trivially cheap — the scope predicate pushes
    * down to the parquet scan. */
  val ScopeViewTables: Seq[String] = Seq("pd_deals", "pd_persons",
    "pd_activities", "pd_organizations", "pd_users")
  val Scopes: Seq[String] = Seq("comercial", "expansao")

  /** Register all materialized gold tables (+ derived views where their
    * inputs exist) and the SQL functions. Returns registered names.
    * Each table is opened once, through the pipeline's format, and the
    * derived views are built from those same frames. */
  def register(spark: SparkSession, pipe: MedallionPipeline): Seq[String] = {
    Keys.registerSqlFunctions(spark)
    val opened: Seq[(String, DataFrame)] = GoldTables.flatMap(t =>
      pipe.format.read(spark, pipe.goldPath(t)).map(t -> _))
    opened.foreach { case (t, df) => df.createOrReplaceTempView(t) }
    val gold = opened.toMap

    def view(name: String, needs: Seq[String])(f: => DataFrame): Unit =
      if (needs.forall(gold.contains)) f.createOrReplaceTempView(name)

    view("vw_pd_sales_funnel", Seq("pd_deals", "pd_pipelines", "pd_stages"))(
      Analytics.salesFunnel(gold("pd_deals"), gold("pd_pipelines"),
        gold("pd_stages")))
    view("vw_pd_seller_performance", Seq("pd_deals", "pd_users"))(
      Analytics.sellerPerformance(gold("pd_deals"), gold("pd_users")))
    view("vw_zd_ticket_metrics",
      Seq("zd_tickets", "zd_users", "zd_organizations", "zd_groups"))(
      Analytics.ticketMetrics(gold("zd_tickets"), gold("zd_users"),
        gold("zd_organizations"), gold("zd_groups")))
    view("vw_daily_entries", Seq("evo_entries"))(
      Analytics.dailyEntries(gold("evo_entries")))
    for (t <- ScopeViewTables if gold.contains(t); s <- Scopes)
      view(s"vw_${t}_$s", Seq(t))(Analytics.scopeView(gold(t), s))
    opened.map(_._1)
  }
}
