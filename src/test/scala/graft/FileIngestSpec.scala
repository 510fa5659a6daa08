package graft

import graft.gen.Generators
import graft.jobs.Warehouse
import graft.streaming.FileIngest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The OLTP parquet store as a Structured Streaming file source: drain →
  * exactly-once re-run → incremental file → converged daily log. */
class FileIngestSpec extends SparkSpec {

  private def dailyRecompute(imps: DataFrame): DataFrame =
    imps.groupBy(col("campaign_id"), to_date(col("created_at")).as("date"))
      .agg(count(lit(1)).as("daily_count"))

  /** Committed micro-batches = numeric files in the checkpoint's offsets dir. */
  private def committedBatches(ckpt: String): Int =
    new java.io.File(s"$ckpt/offsets")
      .listFiles().count(f => f.getName.forall(_.isDigit))

  test("file-source ingest converges and is exactly-once across runs") {
    val base = java.nio.file.Files.createTempDirectory("graft-ingest").toString
    val (src, log, ckpt) = (s"$base/src", s"$base/log", s"$base/ckpt")

    val now1 = "2024-06-01 12:00:00"
    val imps1 = Generators.impressions(spark, 4, 25, now1, 1L)
    imps1.write.parquet(src)
    FileIngest.ingestDaily(spark, src, log, ckpt)
    assertSameRows(
      FileIngest.latestDaily(Warehouse.read(spark, log)).drop("rtm_delta"),
      dailyRecompute(imps1), "after first drain")

    // Exactly-once: nothing new → a re-run appends nothing.
    val rowsBefore = Warehouse.read(spark, log).count()
    FileIngest.ingestDaily(spark, src, log, ckpt)
    assert(Warehouse.read(spark, log).count() == rowsBefore,
      "re-run without new files must not re-append")

    // A new file (same days get more rows + a fresh day range) becomes one
    // micro-batch; only touched days re-version, and the keep-latest view
    // equals the from-scratch recompute.
    val now2 = "2024-06-02 12:00:00"
    val imps2 = Generators.impressions(spark, 4, 10, now2, 2L)
      .withColumn("id", col("id") + 1000)
    imps2.write.mode("append").parquet(src)
    FileIngest.ingestDaily(spark, src, log, ckpt)
    assertSameRows(
      FileIngest.latestDaily(Warehouse.read(spark, log)).drop("rtm_delta"),
      dailyRecompute(imps1.unionByName(imps2)), "after incremental file")
  }

  test("maxFilesPerTrigger drains a backlog as bounded micro-batches") {
    val base = java.nio.file.Files.createTempDirectory("graft-bp").toString
    val (src, log, ckpt) = (s"$base/src", s"$base/log", s"$base/ckpt")
    val imps = Generators.impressions(spark, 4, 25, "2024-06-01 12:00:00", 3L)
    imps.repartition(3).write.parquet(src)  // a 3-file backlog
    FileIngest.ingestDaily(spark, src, log, ckpt, maxFilesPerTrigger = Some(1))
    val offsets = committedBatches(ckpt)
    assert(offsets >= 3,
      s"backlog should drain as >=3 bounded batches, got $offsets")
    assertSameRows(
      FileIngest.latestDaily(Warehouse.read(spark, log)).drop("rtm_delta"),
      dailyRecompute(imps), "bounded drain converges to the same view")
  }

  test("always-on service: processing-time ingest tracks the generate loop") {
    val base = java.nio.file.Files.createTempDirectory("graft-svc").toString
    // Several generate+delta cycles run WHILE the 1-second-trigger
    // ingester is live; runService then drains and stops gracefully.
    val actions = graft.jobs.Main.runService(spark, base, cycles = 4,
      seedVal = 11L, interval = "1 second")
    assert(actions.size == 4)

    // ≥1 committed micro-batch is deterministic (the seed files exist
    // before the stream starts; the shutdown drain commits them even if
    // every 1-second trigger raced the loop). Whether MID-LOOP appends
    // landed in their own batches is timing-dependent — the restart
    // below forces a second batch deterministically instead.
    val offsets1 = committedBatches(s"$base/ckpt/imps_stream")
    assert(offsets1 >= 1, s"expected >=1 committed micro-batch, got $offsets1")

    // Convergence, BOTH streams: each streamed log's keep-latest view
    // equals the batch recompute over its FINAL store (whatever the
    // cycles appended — the reference tracks clicks through the same
    // delta machinery as impressions).
    val imps = spark.read.schema(graft.schema.Schemas.event)
      .parquet(s"$base/oltp/impressions")
    assertSameRows(
      FileIngest.latestDaily(
        Warehouse.read(spark, s"$base/olap/impressions_daily_stream"))
        .drop("rtm_delta"),
      dailyRecompute(imps), "streamed imps log vs final-store recompute")
    val clks = spark.read.schema(graft.schema.Schemas.event)
      .parquet(s"$base/oltp/clicks")
    assertSameRows(
      FileIngest.latestDaily(
        Warehouse.read(spark, s"$base/olap/clicks_daily_stream"))
        .drop("rtm_delta"),
      dailyRecompute(clks), "streamed clicks log vs final-store recompute")

    // The continuously-maintained CTR view equals the same join computed
    // from the batch recomputes (zero-filled full outer — either stream
    // can own a (campaign, day) the other lacks).
    val ctrExpected = dailyRecompute(imps)
      .withColumnRenamed("daily_count", "daily_impressions")
      .join(dailyRecompute(clks)
          .withColumnRenamed("daily_count", "daily_clicks"),
        Seq("campaign_id", "date"), "full_outer")
      .select(col("campaign_id"), col("date"),
        coalesce(col("daily_impressions"), lit(0L)).as("daily_impressions"),
        coalesce(col("daily_clicks"), lit(0L)).as("daily_clicks"))
      .withColumn("daily_ctr",
        graft.ops.Core.round2p(graft.ops.Core.safeDiv(col("daily_clicks"),
          col("daily_impressions")) * 100))
    assertSameRows(
      FileIngest.streamedDailyCtr(
        Warehouse.read(spark, s"$base/olap/impressions_daily_stream"),
        Warehouse.read(spark, s"$base/olap/clicks_daily_stream")),
      ctrExpected, "streamed daily CTR vs batch-recompute join")

    // Graceful stop + checkpoint: a RESTART of the service picks up where
    // the stop left off (exactly-once), not from scratch. An impressions
    // file appended BETWEEN the runs guarantees the restarted stream has
    // new input (a cycle's single random action may touch another table),
    // so the restart must commit at least one further micro-batch.
    Generators.impressions(spark, 4, 5, "2024-06-03 12:00:00", 99L)
      .withColumn("id", col("id") + 100000)
      .write.mode("append").parquet(s"$base/oltp/impressions")
    val moreActions = graft.jobs.Main.runService(spark, base, cycles = 2,
      seedVal = 12L, interval = "1 second")
    assert(moreActions.size == 2)
    val offsets2 = committedBatches(s"$base/ckpt/imps_stream")
    assert(offsets2 > offsets1,
      s"restart with new input must commit a new micro-batch ($offsets1 -> $offsets2)")
    val impsAfter = spark.read.schema(graft.schema.Schemas.event)
      .parquet(s"$base/oltp/impressions")
    val clksAfter = spark.read.schema(graft.schema.Schemas.event)
      .parquet(s"$base/oltp/clicks")
    assertSameRows(
      FileIngest.latestDaily(
        Warehouse.read(spark, s"$base/olap/impressions_daily_stream"))
        .drop("rtm_delta"),
      dailyRecompute(impsAfter), "streamed imps log after service restart")
    assertSameRows(
      FileIngest.latestDaily(
        Warehouse.read(spark, s"$base/olap/clicks_daily_stream"))
        .drop("rtm_delta"),
      dailyRecompute(clksAfter), "streamed clicks log after service restart")
  }

  test("compaction bounds EVERY service log; views unchanged") {
    val base = java.nio.file.Files.createTempDirectory("graft-cmp").toString
    // 4 cycles with compactEvery=2: compactBatchLogs runs mid-service at
    // cycles 2 and 4 (totals + daily log), tryCompactStreamedLogs
    // races the live 1-second triggers (skip-on-race is fine mid-run).
    graft.jobs.Main.runService(spark, base, cycles = 4, seedVal = 21L,
      interval = "1 second", compactEvery = 2)
    val p = graft.jobs.Main.Paths(base)
    // Post-stop, one more streamed-log pass with no live writer MUST
    // land — this is the deterministic bounded state the always-on
    // service converges to at every quiet compaction window.
    graft.jobs.Main.tryCompactStreamedLogs(spark, p)

    def versionBounded(path: String, keys: Seq[String]): Unit = {
      val log = Warehouse.read(spark, path)
      val rows = log.count()
      val keyCount = log.select(keys.map(col): _*).distinct().count()
      assert(rows == keyCount,
        s"$path: $rows rows for $keyCount keys — compaction left " +
          "multiple versions (retain=1)")
    }
    // ALL four logs the service writes are version-bounded: the last
    // compaction at cycle 4 is the loop's final log write (batch side),
    // and the post-stop pass bounds the streamed side.
    versionBounded(p.totalsLog, graft.jobs.DeltaUpsert.Keys)
    versionBounded(p.factsDaily,
      Seq("kind", "rtm_advertiser_id", "rtm_campaign_id", "day"))
    versionBounded(p.impsStreamLog, Seq("campaign_id", "date"))
    versionBounded(p.clksStreamLog, Seq("campaign_id", "date"))

    // Views unchanged: every keep-latest view still equals the batch
    // recompute of the final OLTP store.
    val st = graft.jobs.Main.oltp(spark, p)
    assertSameRows(
      graft.jobs.DeltaUpsert.latest(Warehouse.read(spark, p.totalsLog)),
      graft.jobs.InitialLoad.campaignTotals(st.advertiser, st.campaign,
        st.impressions, st.clicks),
      "compacted totals log vs one-shot recompute")
    assertSameRows(
      FileIngest.latestDaily(Warehouse.read(spark, p.impsStreamLog))
        .drop("rtm_delta"),
      dailyRecompute(st.impressions), "compacted streamed imps log")
    assertSameRows(
      FileIngest.latestDaily(Warehouse.read(spark, p.clksStreamLog))
        .drop("rtm_delta"),
      dailyRecompute(st.clicks), "compacted streamed clicks log")
  }

  test("wall-clock scheduler fires generate and delta on their own cadences") {
    val base = java.nio.file.Files.createTempDirectory("graft-sched").toString
    // Injected clock: sleep() advances fake time, so 10 minutes of the
    // reference's 3-min/5-min schedule run in milliseconds. Expected
    // firings before the clock passes t0+10min: generate at 0,3,6,9
    // (4 ticks), delta at 0,5,10 (3 ticks).
    val t0 = java.time.LocalDateTime.parse("2024-06-01T12:00:00")
    var fakeNow = t0
    val stats = graft.jobs.Main.runScheduled(spark, base,
      stop = () => fakeNow.isAfter(t0.plusMinutes(10)),
      interval = "1 second", seedVal = 31L, compactEvery = 1,
      clock = () => fakeNow,
      sleep = d => fakeNow = fakeNow.plus(d))
    assert(stats.actions.size == 4,
      s"expected 4 generate ticks over 10 min, got ${stats.actions.size}")
    assert(stats.deltaTicks == 3,
      s"expected 3 delta ticks over 10 min, got ${stats.deltaTicks}")
    // compactEvery=1 → a compaction pass interleaves after EVERY delta
    // tick; the convergence assertions below then prove the interleaved
    // compactions lost no appends, and the boundedness check that the
    // final pass (the loop's last log write) left retain=1 per key.
    assert(stats.compactTicks == 3,
      s"expected 3 compaction ticks, got ${stats.compactTicks}")
    val totalsLog = Warehouse.read(spark,
      graft.jobs.Main.Paths(base).totalsLog)
    assert(totalsLog.count() == totalsLog
        .select(graft.jobs.DeltaUpsert.Keys.map(col): _*).distinct().count(),
      "scheduled-mode totals log must be version-bounded after the run")

    // The scheduled path maintains the same invariants as the cycle path:
    // keep-latest totals converge to the one-shot recompute of the final
    // OLTP state, and the streamed logs converge to the store.
    val p = graft.jobs.Main.Paths(base)
    val st = graft.jobs.Main.oltp(spark, p)
    val recompute = graft.jobs.InitialLoad.campaignTotals(st.advertiser,
      st.campaign, st.impressions, st.clicks)
    assertSameRows(
      graft.jobs.DeltaUpsert.latest(Warehouse.read(spark, p.totalsLog)),
      recompute, "scheduled totals vs one-shot recompute")
    val imps = spark.read.schema(graft.schema.Schemas.event)
      .parquet(s"$base/oltp/impressions")
    assertSameRows(
      FileIngest.latestDaily(Warehouse.read(spark, p.impsStreamLog))
        .drop("rtm_delta"),
      dailyRecompute(imps), "scheduled-mode streamed imps log")
  }
}
