package graft.jobs

import graft.ops.Core
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Report derivations (reference create_campaign_totals_report
  * initial_load…py:386-492 and create_campaign_daily_ctr_report :494-559),
  * as pure DataFrame transforms over the standard OLAP totals schema
  * (Schemas.advertiserCampaigns column names).
  *
  * Scale posture: both reports are narrow projections / window functions
  * over already-aggregated inputs — the only shuffle is the window
  * partition-by in the daily report, on the same (advertiser, campaign)
  * keys the inputs are already aggregated by.
  */
object Reports {

  /** P5–P11 KPI totals report: budget math, statuses, CTR/CPM. `today` is
    * the injected report clock (reference uses today()/now(),
    * initial_load…py:453-461 — injectable per SURVEY §5.2).
    *
    * Formulas match the reference (initial_load…py:426-463) exactly:
    * `campaign_budget_daily_*` divide by the full period length
    * (dateDiff(start, end)); `campaign_period_status` ∈
    * {ended, ongoing, exceeded} keyed on the sign of dateDiff(today, end);
    * the equal-boundary cases of both budget statuses and the daily status
    * fall through to NULL (the reference's ELSE NULL).
    *
    * Deliberate deviations (SURVEY §7.5 dialect fixes, not drift):
    *   - 0-impression CTR/CPM are NULL, not ClickHouse's inf/nan (P5);
    *   - ROUND(x,2) after division is the portable `Core.round2p`
    *     (floor(x*100+0.5)/100), identical on the same IEEE double in every
    *     engine, where CH/Spark/DuckDB ROUND disagree near x.xx5. */
  def totalsReport(t: DataFrame, today: String): DataFrame = {
    val bid = col("campaign_bid")
    val budget = col("campaign_budget")
    val imps = col("campaign_impressions_count_total")
    val clks = col("campaign_clicks_count_total")
    val todayD = to_date(lit(today))
    val periodDays = datediff(col("campaign_end_date"), col("campaign_start_date"))
    val daysRemaining = datediff(col("campaign_end_date"), todayD)
    // `used` and the budget comparisons run in the INPUT's numeric type:
    // exact decimal arithmetic on the pipeline path (decimal × long →
    // decimal), double on the parity path. Only the ratio metrics
    // (per-day norms, CPM) cast to double — division is where NUMERIC
    // would force a scale choice anyway and the reference's formulas are
    // float (initial_load…py:426-463).
    val used = bid * clks
    val dailyNorm = Core.round2p(budget.cast("double") / periodDays)
    val dailyUsed = Core.round2p(used.cast("double") / periodDays)
    // floor(double) is LONG but floor(decimal) is DECIMAL(p,0): pin the
    // output type so both input paths produce the same report schema.
    val bidsMax = floor(budget / bid).cast("long")
    t.select(
      col("rtm_advertiser_id"), col("rtm_campaign_id"),
      col("advertiser_name"), col("campaign_name"),
      bid, budget, imps, clks,
      bidsMax.as("campaign_bids_max"),
      (bidsMax - clks).as("campaign_bids_remaining"),
      used.as("campaign_budget_used"),
      when(budget < used, "exceeded")
        .when(used === 0, "unused")
        .when(budget > used, "unspent").as("campaign_budget_status"),
      col("campaign_start_date"), col("campaign_end_date"),
      periodDays.as("campaign_period_days"),
      datediff(todayD, col("campaign_start_date")).as("campaign_period_days_elapsed"),
      daysRemaining.as("campaign_days_remaining"),
      when(daysRemaining === 0, "ended")
        .when(daysRemaining > 0, "ongoing")
        .when(daysRemaining < 0, "exceeded").as("campaign_period_status"),
      dailyNorm.as("campaign_budget_daily_norm"),
      dailyUsed.as("campaign_budget_daily_used"),
      when(dailyNorm > dailyUsed, "below_norm")
        .when(dailyNorm < dailyUsed, "above_norm").as("campaign_budget_daily_status"),
      when(imps > 0, (clks / imps) * 100).as("campaign_ctr"),
      when(imps > 0, used.cast("double") / imps).as("campaign_cpm"),
      col("rtm_delta"))
  }

  /** Incremental totals-report maintenance — beyond the reference, which
    * DROPs and fully re-derives the report every delta cycle
    * (track_delta.py:438-537, O(all keys) every 5 minutes). The report is a
    * per-row projection of the totals grain, so maintaining it only needs
    * the CHANGED keys' rows re-derived: they replace those keys' previous
    * rows, every other row passes through. O(changed + |report|) with no
    * fact scan and no shuffle, and identical output to a full rebuild
    * (WarehouseSpec pins the equivalence). `changedTotals` holds one row
    * per key, newest version — what a totals CDC diff yields.
    *
    * Clock invariant: equivalence holds for a FIXED report clock. The
    * today-derived columns (elapsed/remaining/period status) of UNCHANGED
    * keys are as of their last derivation; when the reporting day rolls
    * over, pass all totals as changed (= full re-derive) once. */
  def incrementalTotalsReport(prevReport: DataFrame, changedTotals: DataFrame,
                              today: String): DataFrame =
    replaceKeys(prevReport, changedTotals, totalsReport(changedTotals, today))

  /** Incremental daily-CTR maintenance — the daily twin of
    * incrementalTotalsReport, beyond the reference's every-cycle full
    * rebuild (track_delta.py:548). The maintenance grain is the
    * CAMPAIGN, not the day: the report carries a per-campaign day
    * ordinal (`campaign_day` = row_number over its dates), so one
    * changed day re-ranks every row of its campaign — day-grain
    * patching would corrupt the ordinal. Campaigns in `touchedKeys`
    * re-derive in full from the kind-tagged daily rows `days` (restricted
    * to them by semi join); every other campaign's rows pass through
    * untouched. Identical to a full rebuild (WarehouseSpec pins it;
    * PipelineSpec pins the lifecycle-level form).
    *
    * `days` must hold the CURRENT rows of every touched campaign.
    * `Main.deltaStep` passes its (kind, campaign, day) fact snapshot, not
    * the daily log's keep-latest view: with append-only facts the two
    * agree on every touched campaign, and the snapshot needs no window
    * over the log. `touchedKeys` must cover every campaign whose report
    * could change; deltaStep passes the totals diff's keys (a name change
    * or a count change versions the totals row) united with the daily
    * diff's, so the cover does not rest on that inference alone.
    * Duplicate keys are harmless.
    *
    * Scale posture: the touched campaigns are a delta's worth (a handful
    * per 5-minute cycle, not the fleet), so the keys and the restricted
    * dim and click rows are broadcast and the only shuffle is the day
    * ordinal's window over the touched campaigns' rows. */
  def incrementalDailyCtrReport(prevReport: DataFrame, touchedKeys: DataFrame,
                                dim: DataFrame, days: DataFrame): DataFrame = {
    val touched = broadcast(touchedKeys.select(DeltaUpsert.Keys.map(col): _*))
    def only(df: DataFrame) = df.join(touched, DeltaUpsert.Keys, "left_semi")
    val touchedDays = only(days)
    replaceKeys(prevReport, touched, ctrReport(broadcast(only(dim)),
      kindRows(touchedDays, "impressions"),
      broadcast(kindRows(touchedDays, "clicks"))))
  }

  /** `prev` without the keys in `keys`, plus `fresh` (their new rows). */
  private def replaceKeys(prev: DataFrame, keys: DataFrame,
                          fresh: DataFrame): DataFrame =
    prev.join(broadcast(keys.select(DeltaUpsert.Keys.map(col): _*)),
        DeltaUpsert.Keys, "left_anti")
      .unionByName(fresh)

  /** W1+J5+J6 daily CTR report over kind-tagged daily rows (the
    * `DeltaUpsert.factDays` columns): `dim` is the distinct (advertiser,
    * campaign, names) lookup; daily click rows are day-aligned onto daily
    * impression rows (days with clicks but no impressions drop, by
    * reference design — SURVEY J6; a row with a NULL advertiser or day
    * matches none). */
  def dailyCtrReport(dim: DataFrame, days: DataFrame): DataFrame =
    ctrReport(dim, kindRows(days, "impressions"), kindRows(days, "clicks"))

  /** One kind's rows of kind-tagged daily rows: keys, day and the count
    * as `campaign_<kind>_daily_count`, the report's column. */
  private def kindRows(days: DataFrame, kind: String): DataFrame =
    days.filter(col("kind") === kind)
      .select(col("rtm_advertiser_id"), col("rtm_campaign_id"), col("day"),
        col("daily_count").as(s"campaign_${kind}_daily_count"))

  private def ctrReport(dim: DataFrame, imps: DataFrame,
                        clks: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("rtm_advertiser_id"), col("rtm_campaign_id"))
      .orderBy(col("day"))
    imps
      .join(dim, DeltaUpsert.Keys, "left")
      .join(clks, DeltaUpsert.Keys :+ "day", "left")
      .select(
        col("rtm_advertiser_id"), col("rtm_campaign_id"),
        col("advertiser_name"), col("campaign_name"),
        row_number().over(w).as("campaign_day"),
        col("day").as("campaign_impressions_date"),
        col("campaign_impressions_daily_count"),
        coalesce(col("campaign_clicks_daily_count"), lit(0L))
          .as("campaign_clicks_daily_count"),
        Core.round2p((coalesce(col("campaign_clicks_daily_count"), lit(0L)) /
          col("campaign_impressions_daily_count")) * 100)
          .as("campaign_ctr_daily"))
  }
}
