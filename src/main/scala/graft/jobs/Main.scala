package graft.jobs

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import graft.Snapshot.hasData
import graft.gen.{DeltaActions, Generators, OltpState}
import graft.queries.Extensions
import graft.schema.Schemas
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The runnable end-to-end pipeline — the reference's user-facing artifact
  * (its two DAGs plus the seed script) as one driver:
  *
  *   1. branch-on-empty (initial_load…py:29-55): if any OLTP table is
  *      empty, seed the batch defaults (scripts/main.py batch: 2
  *      advertisers × 3 campaigns × 100 impressions, ctr 0.1);
  *   2. initial load (initial_load…py:570-658): derive the OLAP entity
  *      logs + both reports and write them;
  *   3. N cycles of generate (generate_new_data.py's random action every
  *      3 minutes) + track-delta (track_delta.py:662-664).
  *
  * A track-delta cycle (`deltaStep`) reads the facts ONCE: one
  * checkpointed (kind, campaign, day) aggregate is its only OLTP
  * snapshot, and the totals, both CDC diffs and both reports derive from
  * it. It writes the two reports first and appends to the three version
  * logs last, so a crash in between is repaired by the next cycle. This
  * relies on append-only facts and unique campaign ids (see deltaStep).
  *
  * Storage layout under `base`:
  * {{{
  *   base/oltp/{advertiser,campaign,impressions,clicks}      row tables
  *   base/olap/advertiser_campaigns                          version log
  *   base/olap/{impressions_daily,clicks_daily}              daily logs (date-partitioned)
  *   base/reports/{campaign_totals_report,campaign_daily_ctr_report}
  * }}}
  *
  * Every step is the distributed form: generation is range-based, deltas
  * are anti joins at (key, day) grain, reports are maintained at the
  * changed keys — nothing driver-side except max-id/branch scalars (same
  * O(1) values the reference pulls via `RETURNING id` / `SELECT COUNT(*)`).
  */
object Main {

  private val NowFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  final case class Paths(base: String) {
    val advertiser = s"$base/oltp/advertiser"
    val campaign = s"$base/oltp/campaign"
    val impressions = s"$base/oltp/impressions"
    val clicks = s"$base/oltp/clicks"
    val totalsLog = s"$base/olap/advertiser_campaigns"
    val impsDaily = s"$base/olap/impressions_daily"
    val clksDaily = s"$base/olap/clicks_daily"
    val totalsReport = s"$base/reports/campaign_totals_report"
    val dailyCtrReport = s"$base/reports/campaign_daily_ctr_report"
    val impsStreamLog = s"$base/olap/impressions_daily_stream"
    val clksStreamLog = s"$base/olap/clicks_daily_stream"
    val impsStreamCkpt = s"$base/ckpt/imps_stream"
    val clksStreamCkpt = s"$base/ckpt/clks_stream"
    def oltpAll: Seq[String] = Seq(advertiser, campaign, impressions, clicks)
  }

  /** Read the OLTP store with the declared schemas; a missing table dir
    * reads as an empty frame (so the CLI works on a fresh base). */
  def oltp(spark: SparkSession, p: Paths): OltpState = {
    def readOr(path: String, schema: org.apache.spark.sql.types.StructType) =
      if (hasData(spark, path)) spark.read.schema(schema).parquet(path)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    OltpState(
      advertiser = readOr(p.advertiser, Schemas.advertiser),
      campaign = readOr(p.campaign, Schemas.campaign),
      impressions = readOr(p.impressions, Schemas.event),
      clicks = readOr(p.clicks, Schemas.event))
  }

  /** Seed the OLTP store with the reference batch defaults. */
  def seed(spark: SparkSession, p: Paths, now: String, seedVal: Long): Unit = {
    val adv = Generators.advertisers(spark, 2, now)
    val camp = Generators.campaigns(spark, 2, 3, now, seedVal)
    val imps = Generators.impressions(spark, 6, 100, now, seedVal)
    val clks = Generators.clicks(imps, 0.1, seedVal)
    adv.write.mode(SaveMode.Overwrite).parquet(p.advertiser)
    camp.write.mode(SaveMode.Overwrite).parquet(p.campaign)
    imps.write.mode(SaveMode.Overwrite).parquet(p.impressions)
    clks.write.mode(SaveMode.Overwrite).parquet(p.clicks)
  }

  /** Derive everything from the current OLTP state and write the initial
    * OLAP logs + reports. */
  def initialLoad(spark: SparkSession, p: Paths, today: String): Unit = {
    val st = oltp(spark, p)
    val olap = InitialLoad.run(st.advertiser, st.campaign, st.impressions,
      st.clicks, today)
    Warehouse.appendVersions(olap.advertiserCampaigns, p.totalsLog,
      DeltaUpsert.Keys)
    Warehouse.appendDaily(olap.impressionsDaily, p.impsDaily,
      "campaign_impressions_date", DeltaUpsert.Keys)
    Warehouse.appendDaily(olap.clicksDaily, p.clksDaily,
      "campaign_clicks_date", DeltaUpsert.Keys)
    Warehouse.overwriteReport(olap.totalsReport, p.totalsReport)
    Warehouse.overwriteReport(olap.dailyCtrReport, p.dailyCtrReport)
  }

  /** One generate + track-delta cycle. Returns the action name taken. */
  def cycle(spark: SparkSession, p: Paths, now: String, today: String,
            rng: scala.util.Random): String = {
    val a = generateStep(spark, p, now, rng)
    deltaStep(spark, p, today)
    a
  }

  /** generate_new_data: one random action appended to the OLTP store.
    * Split from deltaStep so the wall-clock scheduler can run the two
    * DAGs at the reference's DIFFERENT cadences (3 min vs 5 min). */
  def generateStep(spark: SparkSession, p: Paths, now: String,
                   rng: scala.util.Random): String = {
    val delta = DeltaActions.step(spark, oltp(spark, p), now, rng)
    val target = delta.table match {
      case "advertiser" => p.advertiser
      case "campaign" => p.campaign
      case "impressions" => p.impressions
      case _ => p.clicks
    }
    delta.rows.write.mode(SaveMode.Append).parquet(target)
    delta.action
  }

  /** track_delta: one CDC cycle over a single snapshot of the OLTP store.
    *
    *  1. Snapshot: both fact tables, read once, grouped to (kind,
    *     campaign, day) with the campaign's advertiser
    *     (`DeltaUpsert.factDays`), localCheckpoint-ed. Nothing else in the
    *     cycle scans a fact table.
    *  2. Diffs, each checkpointed once BEFORE anything is written (their
    *     lineage reads the logs the cycle appends to): the totals rows —
    *     the snapshot's per-campaign sums joined to campaign ⋈ advertiser
    *     — absent from the totals log (full row, `DeltaUpsert.deltaRows`),
    *     and the snapshot rows absent from both daily logs (full tuple,
    *     `DeltaUpsert.dailyDelta`). A changed row IS the version row to
    *     append. A fresh daily row with a NULL advertiser or day (an
    *     orphan fact) never equals a logged row, so its campaign is always
    *     touched, but it is never appended: the log cannot grow by it
    *     every cycle, and the touched key matches no report row.
    *  3. Reports, both incremental: the changed keys' totals rows replace
    *     theirs in the previous report; the daily report's touched
    *     campaigns (totals ∪ daily diff keys) re-derive from the snapshot,
    *     with names from campaign ⋈ advertiser. No log is read.
    *  4. Log appends, last: totals, then both daily logs.
    *
    * Precondition: facts are append-only and campaign ids unique. Then a
    * (key, day)'s snapshot row has the highest (rtm_delta, count) of any
    * version in its log, so it is what keep-latest returns after the
    * append — the reports derived from the snapshot equal those derived
    * from the logs' keep-latest views (PipelineSpec pins both). A crash
    * after the reports but before the last append leaves logs that the
    * next cycle diffs to the same touched set again, so it converges. */
  def deltaStep(spark: SparkSession, p: Paths, today: String): Unit = {
    val st = oltp(spark, p)
    val days = DeltaUpsert.factDays(st.campaign, st.impressions, st.clicks)
      .localCheckpoint()
    val totals = DeltaUpsert.deltaRows(
        InitialLoad.totalsFrom(st.advertiser, st.campaign,
          DeltaUpsert.campaignFacts(days)),
        Warehouse.read(spark, p.totalsLog))
      .localCheckpoint()
    val dailyLogs = Seq(p.impsDaily, p.clksDaily)  // in FactKinds order
    val daily = DeltaUpsert.dailyDelta(days,
        dailyLogs.map(Warehouse.read(spark, _)))
      .localCheckpoint()

    Warehouse.replaceReport(spark,
      Reports.incrementalTotalsReport(
        Warehouse.read(spark, p.totalsReport), totals, today),
      p.totalsReport)
    val dim = InitialLoad.campaignDim(st.advertiser, st.campaign)
      .select(col("advertiser_id").as("rtm_advertiser_id"),
        col("campaign_id").as("rtm_campaign_id"),
        col("advertiser_name"), col("campaign_name"))
    Warehouse.replaceReport(spark,
      Reports.incrementalDailyCtrReport(
        Warehouse.read(spark, p.dailyCtrReport),
        totals.select(DeltaUpsert.Keys.map(col): _*)
          .unionByName(daily.select(DeltaUpsert.Keys.map(col): _*)),
        dim, DeltaUpsert.dailyRows(days, "impressions").drop("rtm_delta"),
        DeltaUpsert.dailyRows(days, "clicks").drop("rtm_delta")
          .withColumnRenamed("campaign_clicks_date", "campaign_impressions_date")),
      p.dailyCtrReport)

    Warehouse.appendVersions(totals, p.totalsLog, DeltaUpsert.Keys)
    DeltaUpsert.FactKinds.zip(dailyLogs).foreach { case (kind, log) =>
      Warehouse.appendDaily(DeltaUpsert.dailyAppend(daily, kind), log,
        DeltaUpsert.dailyCols(kind)._1, DeltaUpsert.Keys)
    }
    // Tiny, but an always-on service must not leak three per tick.
    Seq(days, totals, daily).foreach(Extensions.freeCkpt)
  }

  /** Compact EVERY version log the batch cycle writes — the totals log
    * plus both daily logs (date-partitioned rewrite, so reader pruning
    * survives). The reference's background merges collapse ALL its
    * MergeTree tables (initial_load_generate_postgres_data.py:97-119),
    * not one: a compactor that bounds only the totals log leaves the
    * daily logs growing without bound, the exact defect compaction
    * exists to fix. Runs at the quiescent point of the cycle loop —
    * single writer, no live cached reader. */
  def compactBatchLogs(spark: SparkSession, p: Paths,
                       retainVersions: Int = 1): Unit = {
    // Guarded per log: a log that never received a row (a corpus whose
    // seeded clicks happen to be empty, or a caller compacting a fresh
    // base) has nothing to bound — compacting it would only turn a
    // vacuous state into a read error.
    if (hasData(spark, p.totalsLog))
      Warehouse.compact(spark, p.totalsLog, DeltaUpsert.Keys, "rtm_delta",
        retainVersions, tiebreak = DeltaUpsert.Tiebreak)
    if (hasData(spark, p.impsDaily))
      Warehouse.compact(spark, p.impsDaily,
        Seq("rtm_advertiser_id", "rtm_campaign_id", "campaign_impressions_date"),
        "rtm_delta", retainVersions,
        tiebreak = Seq("campaign_impressions_daily_count"),
        partitionCol = Some("campaign_impressions_date"))
    if (hasData(spark, p.clksDaily))
      Warehouse.compact(spark, p.clksDaily,
        Seq("rtm_advertiser_id", "rtm_campaign_id", "campaign_clicks_date"),
        "rtm_delta", retainVersions,
        tiebreak = Seq("campaign_clicks_daily_count"),
        partitionCol = Some("campaign_clicks_date"))
  }

  /** The streamed daily logs have a LIVE writer (the two ingesters), so
    * their compaction is the optimistic non-throwing form: a trigger that
    * races the rewrite skips the swap cleanly (tryCompact returns false)
    * and the next compaction tick retries — the log is never wrong, only
    * briefly uncompacted. Empty-safe before a stream's first commit. */
  def tryCompactStreamedLogs(spark: SparkSession, p: Paths,
                             retainVersions: Int = 1): Unit =
    Seq(p.impsStreamLog, p.clksStreamLog).foreach { log =>
      if (hasData(spark, log))
        Warehouse.tryCompact(spark, log, Seq("campaign_id", "date"),
          "rtm_delta", retainVersions, tiebreak = Seq("daily_count"))
    }

  /** Full lifecycle. Idempotent branch points mirror the reference:
    * seeds only when OLTP is empty, initial-loads only when the OLAP log
    * is absent, then runs `cycles` generate+delta rounds with the clock
    * advancing 3 minutes per cycle (the reference's schedule_interval).
    *
    * `compactEvery` > 0 compacts every batch-side version log (totals +
    * both dailies, compactBatchLogs) every that many cycles, keeping
    * `retainVersions` versions per key — the scheduled stand-in for
    * ClickHouse's background merges, run at the one point in the loop
    * where the logs have no other writer and no live cached reader (the
    * delta cycle has fully consumed them). */
  def run(spark: SparkSession, base: String, cycles: Int, seedVal: Long,
          now: String = Generators.DefaultNow, compactEvery: Int = 0,
          retainVersions: Int = 1): Seq[String] = {
    val p = Paths(base)
    val t0 = LocalDateTime.parse(now, NowFmt)
    val today = now.take(10)
    if (!p.oltpAll.forall(hasData(spark, _))) seed(spark, p, now, seedVal)
    if (!hasData(spark, p.totalsLog)) initialLoad(spark, p, today)
    val rng = new scala.util.Random(seedVal)
    (1 to cycles).map { i =>
      val nowI = t0.plusMinutes(3L * i).format(NowFmt)
      val a = cycle(spark, p, nowI, today, rng)
      if (compactEvery > 0 && i % compactEvery == 0)
        compactBatchLogs(spark, p, retainVersions)
      a
    }
  }

  /** Always-on service mode. The reference is a SCHEDULED system — a
    * generate DAG every 3 minutes (generate_new_data.py:34) and a delta
    * DAG every 5 (track_delta.py:617-624) — not a run-N-cycles batch.
    * This composition runs the same lifecycle as one long-lived service:
    * TWO processing-time streaming ingesters continuously drain the
    * impressions AND clicks dirs into streamed daily logs (the reference
    * tracks both fact tables through the identical delta machinery,
    * track_delta.py:327-427) WHILE the generate + track-delta cycle
    * appends to the OLTP store and maintains the reports. Shutdown is
    * graceful: drain every file already committed to the store, then
    * stop — each stream's checkpoint resumes exactly-once on the next
    * start, so stop/start loses nothing.
    *
    * The streamed logs complement the batch daily logs (the exact-parity
    * path): FileIngestSpec pins that both keep-latest views converge to
    * the batch recompute of the final store, and
    * `FileIngest.streamedDailyCtr` joins them into the continuously-
    * maintained form of the daily CTR report. `interval` is the trigger
    * cadence (the reference's 5-minute schedule; seconds in tests). */
  def runService(spark: SparkSession, base: String, cycles: Int,
                 seedVal: Long, interval: String = "5 minutes",
                 now: String = Generators.DefaultNow, compactEvery: Int = 0,
                 retainVersions: Int = 1): Seq[String] = {
    val p = Paths(base)
    val t0 = LocalDateTime.parse(now, NowFmt)
    val today = now.take(10)
    if (!p.oltpAll.forall(hasData(spark, _))) seed(spark, p, now, seedVal)
    if (!hasData(spark, p.totalsLog)) initialLoad(spark, p, today)
    val qImps = graft.streaming.FileIngest.startDailyIngest(spark,
      p.impressions, p.impsStreamLog, p.impsStreamCkpt, interval = interval)
    val qClks = graft.streaming.FileIngest.startDailyIngest(spark,
      p.clicks, p.clksStreamLog, p.clksStreamCkpt, interval = interval)
    try {
      val rng = new scala.util.Random(seedVal)
      (1 to cycles).map { i =>
        val nowI = t0.plusMinutes(3L * i).format(NowFmt)
        val a = cycle(spark, p, nowI, today, rng)
        if (compactEvery > 0 && i % compactEvery == 0) {
          compactBatchLogs(spark, p, retainVersions)
          tryCompactStreamedLogs(spark, p, retainVersions)
        }
        a
      }
    } finally {
      // Drain-then-stop per stream, each stop() in its own finally: if a
      // query already failed, processAllAvailable() rethrows its
      // exception — which must not mask the cycle loop's error, skip the
      // other stream's shutdown, NOR leak a live query registered on the
      // shared session.
      try {
        try qImps.processAllAvailable()
        finally qImps.stop()
      } finally {
        try qClks.processAllAvailable()
        finally qClks.stop()
      }
    }
  }

  /** The counts a scheduled run reports: every generate action taken,
    * how many delta ticks ran, and how many compaction passes ran. */
  final case class ScheduleStats(actions: Seq[String], deltaTicks: Int,
                                 compactTicks: Int = 0)

  /** TRUE wall-clock scheduled mode: the reference's actual operation —
    * a generate DAG on one cadence (every-3rd-minute cron,
    * generate_new_data.py:34) and a track-delta DAG on another (every
    * 5th minute, track_delta.py:617-624) — run off the clock until `stop()`
    * returns true, with both streaming ingesters live throughout.
    * runService is the run-N-cycles composition for converged-state
    * tests; this is the run-until-stopped deployment shape.
    *
    * Scheduling is fixed-rate with catch-up: each tick's next fire time
    * advances by exactly its period (no drift from work duration), and a
    * clock jump runs one missed tick per loop pass until caught up —
    * Airflow's catchup behavior. Both DAGs fire immediately at start
    * (the reference's first scheduled run), and ticks due at the same
    * instant run generate-then-delta, preserving cycle()'s ordering.
    *
    * Compaction rides the delta cadence: every `compactEvery` delta
    * ticks (default 12 — hourly at the reference's 5-minute delta), all
    * batch-side logs compact and the streamed logs try to (optimistic —
    * a racing trigger skips that pass, tryCompactStreamedLogs). The
    * run-until-stopped mode is exactly where unbounded log growth bites,
    * so unlike the test-shaped run/runService the hook is ON by default;
    * 0 disables.
    *
    * `clock` and `sleep` are injectable so tests drive days of schedule
    * in milliseconds (CliSpec drives the REAL clock at second cadences);
    * production callers pass nothing and get system time. */
  def runScheduled(spark: SparkSession, base: String, stop: () => Boolean,
                   generateEvery: java.time.Duration = java.time.Duration.ofMinutes(3),
                   deltaEvery: java.time.Duration = java.time.Duration.ofMinutes(5),
                   interval: String = "5 minutes", seedVal: Long = 42L,
                   compactEvery: Int = 12, retainVersions: Int = 1,
                   clock: () => LocalDateTime = () => LocalDateTime.now(),
                   sleep: java.time.Duration => Unit = d => Thread.sleep(d.toMillis))
      : ScheduleStats = {
    val p = Paths(base)
    val t0 = clock()
    val today = t0.format(NowFmt).take(10)
    if (!p.oltpAll.forall(hasData(spark, _))) seed(spark, p,
      t0.format(NowFmt), seedVal)
    if (!hasData(spark, p.totalsLog)) initialLoad(spark, p, today)
    val qImps = graft.streaming.FileIngest.startDailyIngest(spark,
      p.impressions, p.impsStreamLog, p.impsStreamCkpt, interval = interval)
    val qClks = graft.streaming.FileIngest.startDailyIngest(spark,
      p.clicks, p.clksStreamLog, p.clksStreamCkpt, interval = interval)
    val rng = new scala.util.Random(seedVal)
    val actions = scala.collection.mutable.ArrayBuffer.empty[String]
    var deltaTicks = 0
    var compactTicks = 0
    var nextGen = t0
    var nextDelta = t0
    try {
      while (!stop()) {
        val now = clock()
        if (!now.isBefore(nextGen)) {
          actions += generateStep(spark, p, now.format(NowFmt), rng)
          nextGen = nextGen.plus(generateEvery)
        }
        if (!now.isBefore(nextDelta)) {
          deltaStep(spark, p, today)
          deltaTicks += 1
          nextDelta = nextDelta.plus(deltaEvery)
          // Compaction immediately after a delta tick: the batch logs
          // have just been fully consumed (no live cached reader) and
          // their next writer is the next delta tick — the quiescent
          // window the staged swap wants.
          if (compactEvery > 0 && deltaTicks % compactEvery == 0) {
            compactBatchLogs(spark, p, retainVersions)
            tryCompactStreamedLogs(spark, p, retainVersions)
            compactTicks += 1
          }
        }
        val wake = if (nextGen.isBefore(nextDelta)) nextGen else nextDelta
        val d = java.time.Duration.between(clock(), wake)
        if (!d.isNegative && !stop()) sleep(d)
      }
    } finally {
      // Same per-stream drain-then-stop discipline as runService.
      try {
        try qImps.processAllAvailable()
        finally qImps.stop()
      } finally {
        try qClks.processAllAvailable()
        finally qClks.stop()
      }
    }
    ScheduleStats(actions.toSeq, deltaTicks, compactTicks)
  }

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/tmp/graft_pipeline")
    val cycles = if (args.length > 1) args(1).toInt else 3
    val spark = graft.Session.start()
    val actions = run(spark, base, cycles, seedVal = 42L)
    val latest = DeltaUpsert.latest(Warehouse.read(spark, Paths(base).totalsLog))
    println(s"[main] actions: ${actions.mkString(", ")}")
    println(s"[main] latest totals rows: ${latest.count()}")
    println(s"[main] report rows: " +
      Warehouse.read(spark, Paths(base).totalsReport).count())
    spark.stop()
  }
}
