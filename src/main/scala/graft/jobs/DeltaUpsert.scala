package graft.jobs

import graft.ops.Core
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's track_deltas DAG (§3.2, dags/track_delta.py) as a batch
  * CDC cycle: change detection by full-row anti join against the
  * append-only version logs, keep-latest reads. `Main.deltaStep` runs it
  * over one (kind, campaign, day) snapshot of the facts ([[factDays]]).
  *
  * Fixes baked in (SURVEY §7.5 #3):
  *  - the empty-delta malformed-VALUES bug (track_delta.py:288-289) cannot
  *    occur: an empty anti-join result is just an empty DataFrame;
  *  - reads always collapse versions via Core.latestView — the reference
  *    reads ReplacingMergeTree mid-merge and can double-count (§2.9).
  *
  * Scale posture: both sides of every diff are key or (key, day) grain
  * (|campaigns| × |days|, not |events|); the facts are scanned once per
  * cycle, by the snapshot.
  */
object DeltaUpsert {

  val Keys: Seq[String] = Seq("rtm_advertiser_id", "rtm_campaign_id")

  /** Version-tie ordering shared by every reader AND the compactor
    * (Warehouse.compact must rank versions exactly as latest() does or
    * compaction could keep a row latest() would not have returned). */
  val Tiebreak: Seq[String] = Seq("campaign_impressions_count_total",
    "campaign_clicks_count_total")

  /** One delta cycle: the OLTP-derived totals rows absent from the OLAP
    * log (track_delta.py:103-123's Python set-difference, distributed),
    * to APPEND to it (never update-in-place — §2.9 semantics).
    *
    * The diff is FULL-ROW (null-safe), not (key, rtm_delta): the
    * reference's timestamp-only diff silently misses a change whose new
    * fact rows all carry timestamps at or before the key's current max —
    * the counts move but `greatest(...)` doesn't, so no delta is emitted
    * and the OLAP copy stays stale forever (a late-arriving backfill is
    * exactly this shape). Comparing the whole row costs nothing extra —
    * both sides are already key-grain — and catches every change. The
    * totals carry one row per campaign (campaign ids are unique), so the
    * changed rows are the version rows; a row with a NULL key is never
    * appended (no keyed reader could find it). */
  def deltaRows(oltpTotals: DataFrame, olapLog: DataFrame): DataFrame = {
    val cols = oltpTotals.columns.toSeq
    val log = olapLog.select(cols.map(col): _*)
    val cond = cols.map(c => oltpTotals(c) <=> log(c)).reduce(_ && _)
    oltpTotals.join(log, cond, "left_anti")
      .filter(Keys.map(col(_).isNotNull).reduce(_ && _))
  }

  /** The fact tables a delta cycle tracks, as `kind` tags. */
  val FactKinds: Seq[String] = Seq("impressions", "clicks")

  /** The key of a daily fact row: one version per (kind, campaign, day). */
  val DailyKeys: Seq[String] = "kind" +: Keys :+ "day"

  /** A delta cycle's one OLTP snapshot: both fact tables read once as a
    * tagged union and grouped to (kind, campaign, day) with the count and
    * the newest `created_at`, plus the campaign's advertiser (NULL for an
    * orphan fact). It is tiny — campaigns × days × 2 rows — and every
    * other frame of the cycle derives from it: the totals (its per-
    * campaign sums, [[campaignFacts]]), the daily diff ([[dailyDelta]])
    * and the daily report's rows. Each (kind, campaign, day) row equals
    * the row `InitialLoad.dailyCounts` derives for it. Its columns are
    * the daily fact log's format (`Main.Paths.factsDaily`: partitioned by
    * day, keep-latest on [[DailyKeys]] with the count as tiebreak). */
  def factDays(campaign: DataFrame, impressions: DataFrame,
               clicks: DataFrame): DataFrame =
    FactKinds.zip(Seq(impressions, clicks))
      .map { case (kind, facts) =>
        facts.select(lit(kind).as("kind"), col("campaign_id"), col("created_at"))
      }.reduce(_ unionByName _)
      .groupBy(col("kind"), col("campaign_id"),
        to_date(col("created_at")).as("day"))
      .agg(count(lit(1)).as("daily_count"),
        max(col("created_at")).as("rtm_delta"))
      .join(campaign.select(col("id").as("campaign_id"), col("advertiser_id")),
        Seq("campaign_id"), "left")
      .select(col("kind"), col("advertiser_id").as("rtm_advertiser_id"),
        col("campaign_id").as("rtm_campaign_id"), col("day"),
        col("daily_count"), col("rtm_delta"))

  /** Per-campaign fact totals summed over a [[factDays]] snapshot, in
    * the shape `InitialLoad.totalsFrom` joins. Exact: a count is the sum
    * of its days' counts (the NULL day included) and a max the max of
    * their maxima. */
  def campaignFacts(days: DataFrame): DataFrame = {
    def of(kind: String, c: String) = when(col("kind") === kind, col(c))
    days.groupBy(col("rtm_campaign_id").as("campaign_id")).agg(
      sum(of("impressions", "daily_count")).as("imp_total"),
      max(of("impressions", "rtm_delta")).as("max_imp_at"),
      sum(of("clicks", "daily_count")).as("clk_total"),
      max(of("clicks", "rtm_delta")).as("max_clk_at"))
  }

  /** Day-grain CDC: the [[factDays]] rows whose FULL row is not in the
    * daily fact log. A (key, day, rtm_delta) diff alone would miss a
    * count change from a fact landing at or before its day's max
    * timestamp (the late-arrival blind spot [[deltaRows]] documents). The
    * equality is NOT null-safe: a row with a NULL advertiser or day never
    * matches, so it is always in the diff (its campaign counts as
    * touched) — and [[dailyAppend]] never appends it, so it cannot grow
    * the log every cycle. */
  def dailyDelta(days: DataFrame, log: DataFrame): DataFrame =
    days.join(log, days.columns.toSeq, "left_anti")

  /** A [[dailyDelta]]'s daily-log version rows: the rows with a NULL key
    * or day are left out (see [[dailyDelta]]). */
  def dailyAppend(delta: DataFrame): DataFrame =
    delta.filter((Keys :+ "day").map(col(_).isNotNull).reduce(_ && _))

  /** Keep-latest read over the append-only version log. Two versions of a
    * key can share an rtm_delta (the full-row diff above emits a new
    * version when counts change under an unmoved max timestamp), so ties
    * break on the counts — monotone under append-only facts, hence the
    * higher count IS the newer version. */
  def latest(olapLog: DataFrame): DataFrame =
    Core.latestView(olapLog, Keys, "rtm_delta", tiebreak = Tiebreak)

  /** Full cycle as pure data: log ∪ delta, plus its collapsed view. */
  def cycle(oltpTotals: DataFrame, olapLog: DataFrame): (DataFrame, DataFrame) = {
    val appended = olapLog.unionByName(deltaRows(oltpTotals, olapLog))
    (appended, latest(appended))
  }
}
