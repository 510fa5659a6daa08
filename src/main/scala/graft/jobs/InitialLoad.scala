package graft.jobs

import graft.ops.{Aggregates, Core}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's initial_load DAG (§3.1,
  * dags/initial_load_generate_postgres_data.py:570-658) as ONE Spark batch
  * job over the adtech OLTP schemas (Schemas.*): no Airflow task forks, no
  * XCom row shuttling, no per-task DB round-trips — a single lineage DAG
  * that Catalyst pipelines end-to-end.
  *
  * Scale posture: facts are pre-aggregated to campaign/day grain BEFORE any
  * join (the reference's own CTE shape, also the 100 TB shape); the
  * advertiser dimension joins broadcast; outputs are version logs read via
  * Core.latestView (§2.9), never raw.
  */
object InitialLoad {

  final case class Olap(
      advertiserCampaigns: DataFrame,
      factsDaily: DataFrame,
      totalsReport: DataFrame,
      dailyCtrReport: DataFrame)

  /** ET pipeline for campaign lifetime totals
    * (et_initial_totals_oltp, initial_load…py:150-230). Also fixes the
    * reference's missing COALESCE on the initial path (SURVEY P4). */
  def campaignTotals(advertiser: DataFrame, campaign: DataFrame,
                     impressions: DataFrame, clicks: DataFrame): DataFrame =
    totalsFrom(advertiser, campaign,
      Aggregates.totalsPerCampaign(impressions, "imp_total", "max_imp_at"),
      Aggregates.totalsPerCampaign(clicks, "clk_total", "max_clk_at"))

  /** The totals row of every campaign from per-campaign fact totals:
    * `perCampaign` frames keyed by `campaign_id` that together carry
    * `imp_total`, `max_imp_at`, `clk_total` and `max_clk_at`, each
    * left-joined onto campaign ⋈ advertiser (a campaign with no facts
    * counts 0). Shared by the raw-fact reference above and the delta
    * cycle, which sums its (kind, campaign, day) snapshot instead. */
  private[jobs] def totalsFrom(advertiser: DataFrame, campaign: DataFrame,
                               perCampaign: DataFrame*): DataFrame =
    perCampaign.foldLeft(campaignDim(advertiser, campaign))(
        _.join(_, Seq("campaign_id"), "left"))
      .select(
        col("advertiser_name"),
        col("campaign_name"),
        // No .cast("double"): NUMERIC(10,2) survives into the version log
        // (Schemas.advertiserCampaigns), fixing the reference's silent
        // Float64 downgrade at this boundary (initial_load…py:82-83).
        col("bid").as("campaign_bid"),
        col("budget").as("campaign_budget"),
        col("start_date").as("campaign_start_date"),
        col("end_date").as("campaign_end_date"),
        coalesce(col("imp_total"), lit(0L)).as("campaign_impressions_count_total"),
        coalesce(col("clk_total"), lit(0L)).as("campaign_clicks_count_total"),
        col("advertiser_id").as("rtm_advertiser_id"),
        col("campaign_id").as("rtm_campaign_id"),
        Core.changeVersion(col("updated_at"), col("created_at"),
          col("max_imp_at"), col("max_clk_at")).as("rtm_delta"))

  /** campaign ⋈ advertiser: one row per campaign with its advertiser's
    * name (NULL for a campaign whose advertiser is missing). */
  private[jobs] def campaignDim(advertiser: DataFrame,
                                campaign: DataFrame): DataFrame =
    campaign.select(col("id").as("campaign_id"), col("name").as("campaign_name"),
        col("bid"), col("budget"), col("start_date"), col("end_date"),
        col("advertiser_id"), col("updated_at"), col("created_at"))
      .join(broadcast(advertiser.select(col("id").as("advertiser_id"),
        col("name").as("advertiser_name"))), Seq("advertiser_id"), "left")

  /** The daily CTR report's name dim: [[campaignDim]]'s keys and names
    * under the report's key columns, one row per campaign. */
  private[graft] def nameDim(advertiser: DataFrame,
                             campaign: DataFrame): DataFrame =
    campaignDim(advertiser, campaign)
      .select(col("advertiser_id").as("rtm_advertiser_id"),
        col("campaign_id").as("rtm_campaign_id"),
        col("advertiser_name"), col("campaign_name"))

  /** Daily fact grain (et_initial_impressions/clicks, initial_load…py:239-323)
    * of one raw fact table, tagged `kind`, in `DeltaUpsert.factDays`' columns.
    *
    * Aggregates BEFORE the campaign join: with unique campaign ids the
    * advertiser is a function of the fact's campaign, so grouping by
    * (campaign, day) first gives the same groups and counts, and the
    * broadcast join runs at campaign-day grain instead of fact grain. An
    * orphan fact's campaign still gets a NULL advertiser. */
  def dailyCounts(campaign: DataFrame, facts: DataFrame,
                  kind: String): DataFrame =
    facts
      .groupBy(col("campaign_id"), to_date(col("created_at")).as("day"))
      .agg(count(lit(1)).as("daily_count"),
        max(col("created_at")).as("rtm_delta"))
      .join(broadcast(campaign.select(col("id").as("campaign_id"),
        col("advertiser_id"))), Seq("campaign_id"), "left")
      .select(lit(kind).as("kind"), col("advertiser_id").as("rtm_advertiser_id"),
        col("campaign_id").as("rtm_campaign_id"), col("day"), col("daily_count"),
        col("rtm_delta"))

  /** The whole DAG: entity tables + both reports, derived once. */
  def run(advertiser: DataFrame, campaign: DataFrame, impressions: DataFrame,
          clicks: DataFrame, today: String): Olap = {
    val totals = campaignTotals(advertiser, campaign, impressions, clicks)
    val daily = dailyCounts(campaign, impressions, "impressions")
      .unionByName(dailyCounts(campaign, clicks, "clicks"))
    Olap(
      advertiserCampaigns = totals,
      factsDaily = daily,
      totalsReport = Reports.totalsReport(totals, today),
      dailyCtrReport = Reports.dailyCtrReport(nameDim(advertiser, campaign),
        daily))
  }
}
