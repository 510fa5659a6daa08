package graft

import graft.gen.Generators
import graft.jobs.{DeltaUpsert, InitialLoad}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end pipeline semantics: initial load → generator rounds → delta
  * cycles converge to the one-shot recompute (SURVEY §5.3/§5.4). */
class PipelineSpec extends SparkSpec {

  private def oltp(seed: Long, now: String) = {
    val adv = Generators.advertisers(spark, 3, now)
    val camp = Generators.campaigns(spark, 3, 2, now, seed)
    val imps = Generators.impressions(spark, 6, 50, now, seed)
    val clks = Generators.clicks(imps, 0.1, seed)
    (adv, camp, imps, clks)
  }

  test("generators reproduce the reference distributions") {
    val (adv, camp, imps, clks) = oltp(42L, Generators.DefaultNow)
    assert(adv.count() == 3 && camp.count() == 6 && imps.count() == 300)
    val names = adv.select("name").collect().map(_.getString(0)).toSet
    assert(names == Set("Advertiser A", "Advertiser B", "Advertiser C"))
    val bidRange = camp.agg(min("bid"), max("bid")).collect()(0)
    assert(bidRange.getDecimal(0).doubleValue() >= 0.5 &&
      bidRange.getDecimal(1).doubleValue() <= 5.0)
    val period = camp.select(datediff(col("end_date"), col("start_date")).as("d"))
      .agg(min("d"), max("d")).collect()(0)
    assert(period.getInt(0) >= 7 && period.getInt(1) <= 30)
    val nClk = clks.count()
    assert(nClk > 0 && nClk < 300 * 0.3) // ~10% sample
    // clicks happen 1-120s after their impression, so all within window+120s
    assert(clks.join(imps.select(col("id"), col("created_at").as("imp_at")), "id")
      .filter(col("created_at") <= col("imp_at")).count() == 0)
  }

  test("initial load totals: daily counts sum to lifetime totals") {
    val (adv, camp, imps, clks) = oltp(42L, Generators.DefaultNow)
    val olap = InitialLoad.run(adv, camp, imps, clks, "2024-06-01")
    val dailySums = olap.factsDaily.filter(col("kind") === "impressions")
      .groupBy(col("rtm_campaign_id"))
      .agg(sum("daily_count").as("s"))
    val joined = olap.advertiserCampaigns
      .join(dailySums, Seq("rtm_campaign_id"), "left")
      .filter(coalesce(col("s"), lit(0L)) =!= col("campaign_impressions_count_total"))
    assert(joined.count() == 0)
  }

  test("delta cycle: empty delta appends nothing (reference bug fixed)") {
    val (adv, camp, imps, clks) = oltp(42L, Generators.DefaultNow)
    val totals = InitialLoad.campaignTotals(adv, camp, imps, clks)
    assert(DeltaUpsert.deltaRows(totals, totals).count() == 0)
  }

  test("delta cycles converge to one-shot recompute") {
    val now1 = "2024-06-01 12:00:00"
    val now2 = "2024-06-03 12:00:00"
    val (adv, camp, imps1, clks1) = oltp(42L, now1)
    val log1 = InitialLoad.campaignTotals(adv, camp, imps1, clks1)

    // generator round: more impressions/clicks arrive later
    val imps2 = imps1.unionByName(
      Generators.impressions(spark, 6, 20, now2, 99L)
        .withColumn("id", col("id") + 1000))
    val clks2 = clks1.unionByName(
      Generators.clicks(
        Generators.impressions(spark, 6, 20, now2, 99L), 0.2, 99L)
        .withColumn("id", col("id") + 1000))

    val oltp2 = InitialLoad.campaignTotals(adv, camp, imps2, clks2)
    val (appended, latest) = DeltaUpsert.cycle(oltp2, log1)
    // keep-latest over the version log == the fresh one-shot recompute
    assertSameRows(latest, oltp2, "latest view vs recompute")
    // and the log retains history: appended >= latest rows
    assert(appended.count() >= latest.count())
  }

  test("end-to-end driver: seed → initial load → N cycles on disk") {
    val base = java.nio.file.Files.createTempDirectory("graft-e2e").toString
    val actions = jobs.Main.run(spark, base, cycles = 3, seedVal = 7L)
    assert(actions.size == 3 &&
      actions.forall(gen.DeltaActions.ActionNames.contains))
    val p = jobs.Main.Paths(base)
    // The OLAP keep-latest view converges to the one-shot recompute from
    // the final OLTP snapshot — the lifecycle-level CDC invariant.
    val st = jobs.Main.oltp(spark, p)
    val recompute = InitialLoad.campaignTotals(st.advertiser, st.campaign,
      st.impressions, st.clicks)
    val latest = DeltaUpsert.latest(jobs.Warehouse.read(spark, p.totalsLog))
    assertSameRows(latest, recompute, "latest vs one-shot recompute")
    // The incrementally-maintained totals report equals a full derivation
    // from the keep-latest view (the lifecycle-level form of the
    // WarehouseSpec equivalence).
    assertSameRows(jobs.Warehouse.read(spark, p.totalsReport),
      jobs.Reports.totalsReport(latest, "2024-06-01"),
      "incremental report vs full derive")
    // The incrementally-maintained DAILY report (campaign-grain
    // maintenance, Reports.incrementalDailyCtrReport) equals a full
    // derivation from the daily log's keep-latest view of each kind.
    def dailyEquivalence(totalsLatest: DataFrame, hint: String): Unit = {
      val dim = totalsLatest.select(col("rtm_advertiser_id"),
        col("rtm_campaign_id"), col("advertiser_name"),
        col("campaign_name")).distinct()
      val dailyView = DeltaUpsert.FactKinds.map(latestDailyLog(p, _))
        .reduce(_ unionByName _)
      assertSameRows(jobs.Warehouse.read(spark, p.dailyCtrReport),
        jobs.Reports.dailyCtrReport(dim, dailyView), hint)
    }
    dailyEquivalence(latest, "incremental daily report vs full derive")
    // Re-running does NOT re-seed or re-initial-load (branch-on-empty):
    // the log row count only grows by the new cycles' deltas, and the
    // invariant still holds.
    jobs.Main.run(spark, base, cycles = 1, seedVal = 11L)
    val st2 = jobs.Main.oltp(spark, p)
    val latest2 = DeltaUpsert.latest(jobs.Warehouse.read(spark, p.totalsLog))
    assertSameRows(latest2,
      InitialLoad.campaignTotals(st2.advertiser, st2.campaign,
        st2.impressions, st2.clicks), "after second run")
    // The daily report stays equivalent across the process-like boundary
    // (second run maintains the first run's report incrementally).
    dailyEquivalence(latest2, "daily report after second run")
  }

  test("periodic compaction bounds the log without changing the pipeline") {
    // Twin drivers, same seed: one compacts the totals log every 2 cycles
    // (the scheduled background-merge analogue), one never does. The
    // keep-latest view — and therefore every report — must be identical;
    // only the log's physical row/file count may differ.
    val basePlain = java.nio.file.Files.createTempDirectory("graft-nc").toString
    val baseCompact = java.nio.file.Files.createTempDirectory("graft-c").toString
    jobs.Main.run(spark, basePlain, cycles = 6, seedVal = 21L)
    jobs.Main.run(spark, baseCompact, cycles = 6, seedVal = 21L,
      compactEvery = 2)
    val logPlain = jobs.Warehouse.read(spark,
      jobs.Main.Paths(basePlain).totalsLog)
    val logCompact = jobs.Warehouse.read(spark,
      jobs.Main.Paths(baseCompact).totalsLog)
    assertSameRows(DeltaUpsert.latest(logCompact), DeltaUpsert.latest(logPlain),
      "latest view with vs without compaction")
    assertSameRows(
      jobs.Warehouse.read(spark, jobs.Main.Paths(baseCompact).totalsReport),
      jobs.Warehouse.read(spark, jobs.Main.Paths(basePlain).totalsReport),
      "totals report with vs without compaction")
    // Bounded: the last compaction tick lands on cycle 6, so the log holds
    // EXACTLY one version per key (retainVersions = 1 default) while the
    // uncompacted twin kept every version ever appended.
    val keys = DeltaUpsert.latest(logCompact).count()
    assert(logCompact.count() == keys,
      s"compacted log should hold one version per key " +
        s"(${logCompact.count()} vs $keys)")
    assert(logPlain.count() > keys,
      "the uncompacted twin should have accumulated history")
  }

  test("latestView collapse is idempotent") {
    val (adv, camp, imps, clks) = oltp(7L, Generators.DefaultNow)
    val totals = InitialLoad.campaignTotals(adv, camp, imps, clks)
    val doubled = totals.unionByName(totals) // duplicate every version row
    val once = DeltaUpsert.latest(doubled)
    assertSameRows(once, DeltaUpsert.latest(once), "idempotent")
    assert(once.count() == totals.count())
  }

  private val Today = Generators.DefaultNow.take(10)

  /** A seeded, initial-loaded store under a fresh base. */
  private def loadedStore(seed: Long): jobs.Main.Paths = {
    val p = jobs.Main.Paths(
      java.nio.file.Files.createTempDirectory("graft-delta").toString)
    jobs.Main.seed(spark, p, Generators.DefaultNow, seed)
    jobs.Main.initialLoad(spark, p, Today)
    p
  }

  /** Append fact rows (campaign, created_at) with fresh ids. */
  private def appendFacts(path: String, rows: Seq[(Long, java.sql.Timestamp)]): Unit = {
    import spark.implicits._
    val from = spark.read.parquet(path).agg(max("id")).head.getLong(0)
    rows.zipWithIndex.map { case ((c, t), i) => (from + 1 + i, c, t) }
      .toDF("id", "campaign_id", "created_at")
      .write.mode("append").parquet(path)
  }

  /** One kind's rows of the daily log's keep-latest view on (kind, keys,
    * day), in `dailyCounts`' columns. */
  private def latestDailyLog(p: jobs.Main.Paths, kind: String): DataFrame =
    graft.ops.Core.latestView(jobs.Warehouse.read(spark, p.factsDaily),
        Seq("kind", "rtm_advertiser_id", "rtm_campaign_id", "day"),
        "rtm_delta", tiebreak = Seq("daily_count"))
      .filter(col("kind") === kind)
      .select(col("kind"), col("rtm_advertiser_id"), col("rtm_campaign_id"),
        col("day"), col("daily_count"), col("rtm_delta"))

  /** The store's current rows of every OLAP artifact (every log row, not
    * only the latest versions), for equality checks. */
  private def artifacts(p: jobs.Main.Paths): Seq[Seq[String]] =
    Seq(p.totalsLog, p.factsDaily, p.totalsReport, p.dailyCtrReport)
      .map(jobs.Warehouse.read(spark, _).collect().map(_.toString).toSeq.sorted)

  test("deltaStep: late-arriving facts reach every log and both reports") {
    val p = loadedStore(5L)
    // Per (campaign, day) newest fact timestamps of each fact table.
    def dayMax(path: String) = spark.read.parquet(path)
      .groupBy(col("campaign_id"), to_date(col("created_at")).as("d"))
      .agg(max("created_at").as("m"))
      .orderBy(col("campaign_id"), col("d")).collect()
    val imp = dayMax(p.impressions).head
    val clk = dayMax(p.clicks).last
    val earliest = spark.read.parquet(p.impressions)
      .agg(min("created_at")).head.getTimestamp(0)
    // A backfilled impression and click AT their day's current max (the
    // count moves, the version timestamp does not), a click below it,
    // and an impression ten days before any fact.
    appendFacts(p.impressions, Seq(
      imp.getLong(0) -> imp.getTimestamp(2),
      imp.getLong(0) -> new java.sql.Timestamp(earliest.getTime - 10L * 86400000L)))
    appendFacts(p.clicks, Seq(
      clk.getLong(0) -> clk.getTimestamp(2),
      clk.getLong(0) -> new java.sql.Timestamp(clk.getTimestamp(2).getTime - 1000L)))
    jobs.Main.deltaStep(spark, p, Today)

    val st = jobs.Main.oltp(spark, p)
    assertSameRows(DeltaUpsert.latest(jobs.Warehouse.read(spark, p.totalsLog)),
      InitialLoad.campaignTotals(st.advertiser, st.campaign, st.impressions,
        st.clicks), "totals log keep-latest vs recompute")
    DeltaUpsert.FactKinds.zip(Seq(st.impressions, st.clicks)).foreach {
      case (kind, facts) =>
        assertSameRows(latestDailyLog(p, kind),
          InitialLoad.dailyCounts(st.campaign, facts, kind),
          s"$kind daily log keep-latest vs recompute")
    }
    val olap = InitialLoad.run(st.advertiser, st.campaign, st.impressions,
      st.clicks, Today)
    assertSameRows(jobs.Warehouse.read(spark, p.totalsReport),
      olap.totalsReport, "totals report vs initial load")
    assertSameRows(jobs.Warehouse.read(spark, p.dailyCtrReport),
      olap.dailyCtrReport, "daily report vs initial load")
  }

  test("deltaStep: a repeat appends nothing; one step stays in its action budget") {
    val p = loadedStore(9L)
    jobs.Main.deltaStep(spark, p, Today)  // warm: the first step after a load
    val camp = spark.read.parquet(p.campaign).agg(min("id")).head.getLong(0)
    appendFacts(p.impressions, Seq(
      camp -> java.sql.Timestamp.valueOf(Generators.DefaultNow)))
    // Count the SQL executions (actions) of one steady step. The listener
    // bus is asynchronous: a marked sentinel query's callback arrives
    // after every earlier one.
    val Mark = "graft_action_budget_sentinel"
    val actions = new java.util.concurrent.atomic.AtomicInteger()
    val sentinel = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      private def seen(qe: org.apache.spark.sql.execution.QueryExecution): Unit =
        if (qe.logical.toString.contains(Mark)) sentinel.countDown()
        else actions.incrementAndGet()
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    ns: Long): Unit = seen(qe)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    e: Exception): Unit = seen(qe)
    }
    spark.listenerManager.register(listener)
    try {
      jobs.Main.deltaStep(spark, p, Today)
      spark.range(1).select(lit(Mark)).collect()
      assert(sentinel.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.listenerManager.unregister(listener)
    // 3 checkpoints (snapshot, totals diff, daily diff), 2 report
    // replaces, 2 log appends.
    val ActionBudget = 7
    assert(actions.get() <= ActionBudget,
      s"one deltaStep ran ${actions.get()} actions (budget $ActionBudget)")

    // A second step over the same store appends no row to any log and
    // leaves both reports' rows as they were.
    val before = artifacts(p)
    jobs.Main.deltaStep(spark, p, Today)
    assert(artifacts(p) == before, "a repeated deltaStep changed an artifact")
  }
}
