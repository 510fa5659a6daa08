package graft

import graft.gen.OltpState
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The fixed role mapping from the reference's adtech domain onto the
  * driver testdata tables (FIXTURES.md §3):
  *
  *   advertiser  → customer  (c_custkey, c_name)
  *   campaign    → orders    (o_orderkey; o_custkey FK; budget=o_totalprice;
  *                            bid, start_date, end_date derived deterministically;
  *                            name = Campaign_<o_custkey>_<o_orderkey>)
  *   impressions → lineitem  (campaign_id=l_orderkey, created_at=l_shipdate)
  *   clicks      → lineitem WHERE l_returnflag='R' (a ~25% "click" sample,
  *                            mirroring the reference's CTR-ratio click
  *                            generator, /root/reference/scripts/seed.py:86-106)
  *
  * Every derived column is reproducible in ANSI SQL so the DuckDB oracle can
  * compute the identical frame:
  *   bid      = FLOOR(o_totalprice/10000.0) + 0.5      (exact in binary fp)
  *   end_date = start_date + (7 + o_orderkey % 24) days (seed.py:50's 7–30d window)
  */
object Adtech {
  /** Fixed report clock (reference uses today()/now(),
    * initial_load_generate_postgres_data.py:453-461 — injectable clock per
    * SURVEY §5.2 so oracle runs are deterministic). */
  val Today = "1998-06-01"

  /** The role mapping as the ETL's OLTP state, in `Schemas`' column names
    * (not its types: `bid` and `budget` stay double, as the oracle has
    * them), so the jobs/ derivations run on it unchanged. Both fact roles
    * share one lineitem read. */
  def oltp(spark: SparkSession, dir: String): OltpState = {
    val lineitem = Tables.t(spark, dir, "lineitem")
    OltpState(oltpAdvertiser(spark, dir), oltpCampaign(spark, dir),
      facts(lineitem), facts(lineitem.filter(isClick)))
  }

  /** The advertiser role as `Schemas.advertiser`'s (`id`, `name`). */
  def oltpAdvertiser(spark: SparkSession, dir: String): DataFrame =
    Tables.t(spark, dir, "customer").select(
      col("c_custkey").as("id"), col("c_name").as("name"))

  /** The campaign role in `Schemas.campaign`'s columns; both timestamps
    * are the order date. */
  def oltpCampaign(spark: SparkSession, dir: String): DataFrame = {
    val start = to_date(col("o_orderdate"))
    Tables.t(spark, dir, "orders").select(
      col("o_orderkey").as("id"),
      concat(lit("Campaign_"), col("o_custkey"), lit("_"), col("o_orderkey"))
        .as("name"),
      (floor(col("o_totalprice") / lit(10000.0)) + lit(0.5)).as("bid"),
      col("o_totalprice").as("budget"),
      start.as("start_date"),
      date_add(start, (lit(7) + pmod(col("o_orderkey"), lit(24))).cast("int"))
        .as("end_date"),
      col("o_custkey").as("advertiser_id"),
      col("o_orderdate").as("updated_at"),
      col("o_orderdate").as("created_at"))
  }

  def advertiser(spark: SparkSession, dir: String): DataFrame =
    oltpAdvertiser(spark, dir).select(
      col("id").as("advertiser_id"), col("name").as("advertiser_name"))

  def campaign(spark: SparkSession, dir: String): DataFrame =
    oltpCampaign(spark, dir).select(
      col("id").as("campaign_id"), col("advertiser_id"), col("budget"),
      col("bid"), col("start_date"), col("end_date"),
      col("created_at").as("campaign_created_at"))

  def impressions(spark: SparkSession, dir: String): DataFrame =
    facts(Tables.t(spark, dir, "lineitem"))

  def clicks(spark: SparkSession, dir: String): DataFrame =
    facts(Tables.t(spark, dir, "lineitem").filter(isClick))

  private def isClick: Column = col("l_returnflag") === "R"

  /** lineitem rows in `Schemas.event`'s columns. */
  private def facts(lineitem: DataFrame): DataFrame =
    lineitem.select(
      col("l_orderkey").as("campaign_id"),
      col("l_linenumber").as("id"),
      col("l_shipdate").as("created_at"))

  /** events table in its streaming role: timestamped user actions. */
  def events(spark: SparkSession, dir: String): DataFrame =
    Tables.t(spark, dir, "events")
}
