package graft.schema

import org.apache.spark.sql.types._

/** Explicit schema constants for the adtech domain (SURVEY §1.3, FIXTURES §1/§2).
  *
  * Cited reference DDL: /root/reference/migrations/V1__create_schema.sql:1-30
  * (OLTP) and /root/reference/dags/initial_load_generate_postgres_data.py:77-123
  * (OLAP). Surrogate keys are LongType (not the reference's Int32) because at
  * 100 TB int32 key spaces overflow.
  */
object Schemas {

  val advertiser: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("updated_at", TimestampType),
    StructField("created_at", TimestampType)))

  val campaign: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType, nullable = false),
    // The reference declares NUMERIC(10,2) then silently downgrades to CH
    // Float64 (initial_load…py:82-83); we keep Decimal through the pipeline.
    StructField("bid", DecimalType(10, 2), nullable = false),
    StructField("budget", DecimalType(10, 2), nullable = false),
    StructField("start_date", DateType),
    StructField("end_date", DateType),
    StructField("advertiser_id", LongType),
    StructField("updated_at", TimestampType),
    StructField("created_at", TimestampType)))

  /** impressions and clicks share one shape (V1__create_schema.sql:20-30). */
  val event: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("campaign_id", LongType),
    StructField("created_at", TimestampType)))

  /** OLAP advertiser_campaigns version-log row (initial_load…py:79-98):
    * append-only; reads go through Core.latestView on rtm_delta.
    * bid/budget stay DECIMAL through the log (SURVEY §1.3): the reference
    * declares NUMERIC(10,2) in Postgres and silently downgrades to CH
    * Float64 at this exact boundary (initial_load…py:82-83) — money
    * re-enters float only inside ratio metrics (Reports.totalsReport).
    * A log written by a pre-decimal build must be rewritten ONCE with
    * `Warehouse.migrateLog(spark, path, advertiserCampaigns)` before the
    * first new append: a type change is not additive evolution, and a
    * directory mixing DOUBLE and DECIMAL files is unreadable. */
  val advertiserCampaigns: StructType = StructType(Seq(
    StructField("advertiser_name", StringType),
    StructField("campaign_name", StringType),
    StructField("campaign_bid", DecimalType(10, 2)),
    StructField("campaign_budget", DecimalType(10, 2)),
    StructField("campaign_start_date", DateType),
    StructField("campaign_end_date", DateType),
    StructField("campaign_impressions_count_total", LongType),
    StructField("campaign_clicks_count_total", LongType),
    StructField("rtm_advertiser_id", LongType),
    StructField("rtm_campaign_id", LongType),
    StructField("rtm_delta", TimestampType)))
}
