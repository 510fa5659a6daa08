package graft.cli

import graft.gen.DeltaActions
import graft.jobs.{Main, Warehouse}
import graft.ops.Core
import graft.schema.Schemas
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's operator CLI (`scripts/main.py:143-206` argparse
  * subcommands) over the pipeline's OLTP store:
  *
  * {{{
  *   runMain graft.cli.Stats <base> advertisers  --count 1
  *   runMain graft.cli.Stats <base> campaigns    --advertiser-id 1 --count 2
  *   runMain graft.cli.Stats <base> impressions  --campaign-id 1 --count 500
  *   runMain graft.cli.Stats <base> clicks       --campaign-id 1 --ratio 0.12
  *   runMain graft.cli.Stats <base> batch        (seed batch defaults)
  *   runMain graft.cli.Stats <base> stats        (counts + per-campaign CTR)
  *   runMain graft.cli.Stats <base> ingest       (stream-drain impressions + clicks → daily logs)
  *   runMain graft.cli.Stats <base> service      --cycles 3 --interval "5 minutes"
  *   runMain graft.cli.Stats <base> schedule     --for-secs 10 --gen-every-secs 3 --delta-every-secs 5
  *   runMain graft.cli.Stats <base> reset        (empty all OLTP tables)
  * }}}
  *
  * `stats` is main.py's show_stats (:64-126): global counts + overall CTR
  * (the q09 shape, one conditional scan per table) and the per-campaign
  * COUNT(DISTINCT) detail (:98-111 — computed at key grain before the
  * dimension join, the scalable q10 shape, not the reference's fan-out).
  * `reset` truncates like main.py:128-139's DELETEs (non-interactive —
  * this is a batch CLI). Generator subcommands append DeltaActions deltas,
  * exactly what the reference's generate_new_data DAG shells out to.
  */
object Stats {

  private def opt(args: Seq[String], name: String, default: String): String =
    args.sliding(2).collectFirst {
      case Seq(`name`, v) => v
    }.getOrElse(default)

  /** Execute one subcommand; returns the lines `main` prints (pure value
    * so tests can assert on it). */
  def run(spark: SparkSession, base: String, argv: Seq[String]): Seq[String] = {
    val p = Main.Paths(base)
    val cmd = argv.headOption.getOrElse("stats")
    val rest = argv.drop(1)
    def append(d: DeltaActions.Delta, target: String): Long = {
      val n = d.rows.count()
      d.rows.write.mode(SaveMode.Append).parquet(target)
      n
    }
    cmd match {
      case "advertisers" =>
        val n = opt(rest, "--count", "1").toInt
        val got = append(DeltaActions.advertisersDelta(spark,
          Main.oltp(spark, p), n, nowArg(rest)), p.advertiser)
        Seq(s"Created $got advertisers.")
      case "campaigns" =>
        val adv = opt(rest, "--advertiser-id", "1").toLong
        val n = opt(rest, "--count", "2").toInt
        val got = append(DeltaActions.campaignsDelta(spark,
          Main.oltp(spark, p), adv, n, nowArg(rest), seedArg(rest)), p.campaign)
        Seq(s"Created $got campaigns for advertiser #$adv.")
      case "impressions" =>
        val cid = opt(rest, "--campaign-id", "1").toLong
        val n = opt(rest, "--count", "500").toInt
        val got = append(DeltaActions.impressionsDelta(spark,
          Main.oltp(spark, p), cid, n, nowArg(rest), seedArg(rest)), p.impressions)
        Seq(s"Created $got impressions for campaign #$cid")
      case "clicks" =>
        val cid = opt(rest, "--campaign-id", "1").toLong
        val ratio = opt(rest, "--ratio", "0.1").toDouble
        val st = Main.oltp(spark, p)
        // main.py:169-178 refuses when the campaign has no impressions.
        if (st.impressions.filter(col("campaign_id") === cid).isEmpty)
          Seq(s"No impressions found for campaign #$cid. " +
            "Creating clicks requires impressions.")
        else {
          val got = append(DeltaActions.clicksDelta(spark, st, cid, ratio,
            nowArg(rest), seedArg(rest)), p.clicks)
          Seq(s"Created $got clicks for campaign #$cid")
        }
      case "batch" =>
        Main.seed(spark, p, nowArg(rest), seedArg(rest))
        Seq("Seeded batch defaults (2 advertisers x 3 campaigns x 100 impressions).")
      case "ingest" =>
        // Drain BOTH fact stores through the Structured Streaming file
        // source into their streamed daily logs (exactly-once via the
        // checkpoints — re-running without new files appends nothing).
        val impsLog = s"$base/olap/impressions_daily_stream"
        val clksLog = s"$base/olap/clicks_daily_stream"
        graft.streaming.FileIngest.ingestDaily(spark, p.impressions, impsLog,
          s"$base/_checkpoints/impressions_daily")
        graft.streaming.FileIngest.ingestDaily(spark, p.clicks, clksLog,
          s"$base/_checkpoints/clicks_daily")
        val n = graft.streaming.FileIngest
          .latestDaily(Warehouse.read(spark, impsLog)).count()
        val nc = graft.streaming.FileIngest
          .latestDaily(Warehouse.read(spark, clksLog)).count()
        Seq(s"Ingested impressions + clicks; streamed daily logs hold " +
          s"$n / $nc (campaign, day) rows.")
      case "service" =>
        // Always-on mode from the CLI: generate+delta cycles run while
        // the processing-time ingester streams the store; graceful
        // drain-then-stop (Main.runService).
        val cycles = opt(rest, "--cycles", "3").toInt
        val interval = opt(rest, "--interval", "5 minutes")
        val actions = Main.runService(spark, base, cycles, seedArg(rest),
          interval, nowArg(rest))
        Seq(s"Service ran $cycles cycles (${actions.mkString(", ")}); " +
          "streaming ingest drained and stopped.")
      case "schedule" =>
        // Wall-clock scheduled mode off the REAL system clock: generate
        // and delta fire on their own cadences until --for elapses
        // (the deployment shape runs without --for until killed;
        // defaults are the reference's 3-min/5-min crons).
        val genEvery = java.time.Duration.ofSeconds(
          opt(rest, "--gen-every-secs", "180").toLong)
        val deltaEvery = java.time.Duration.ofSeconds(
          opt(rest, "--delta-every-secs", "300").toLong)
        val runFor = opt(rest, "--for-secs", "").trim
        val deadline = if (runFor.isEmpty) None
          else Some(System.nanoTime() + runFor.toLong * 1000000000L)
        // Sleep is capped at the --for deadline so a long inter-tick gap
        // can't overshoot the requested runtime.
        val cappedSleep: java.time.Duration => Unit = d => {
          val ms = deadline.fold(d.toMillis) { dl =>
            math.min(d.toMillis, math.max(0L, (dl - System.nanoTime()) / 1000000L))
          }
          if (ms > 0) Thread.sleep(ms)
        }
        val stats = Main.runScheduled(spark, base,
          stop = () => deadline.exists(System.nanoTime() >= _),
          generateEvery = genEvery, deltaEvery = deltaEvery,
          interval = opt(rest, "--interval", "5 minutes"),
          seedVal = seedArg(rest), sleep = cappedSleep)
        Seq(s"Scheduled run: ${stats.actions.size} generate ticks " +
          s"(${stats.actions.mkString(", ")}), ${stats.deltaTicks} delta " +
          "ticks; streaming ingest drained and stopped.")
      case "reset" =>
        Warehouse.reset(spark, p.clicks, Schemas.event)
        Warehouse.reset(spark, p.impressions, Schemas.event)
        Warehouse.reset(spark, p.campaign, Schemas.campaign)
        Warehouse.reset(spark, p.advertiser, Schemas.advertiser)
        Seq("All data has been deleted.")
      case "stats" =>
        val st = Main.oltp(spark, p)
        val counts = st.advertiser.agg(count(lit(1))).head.getLong(0) ::
          st.campaign.agg(count(lit(1))).head.getLong(0) ::
          st.impressions.agg(count(lit(1))).head.getLong(0) ::
          st.clicks.agg(count(lit(1))).head.getLong(0) :: Nil
        val header = Seq("=== Database Statistics ===",
          s"Advertisers: ${counts(0)}", s"Campaigns: ${counts(1)}",
          s"Impressions: ${counts(2)}", s"Clicks: ${counts(3)}") ++
          (if (counts(2) > 0)
            Seq(f"Overall CTR: ${counts(3).toDouble / counts(2) * 100}%.2f%%")
          else Nil)
        val impC = st.impressions.groupBy(col("campaign_id"))
          .agg(countDistinct(col("id")).as("imps"))
        val clkC = st.clicks.groupBy(col("campaign_id"))
          .agg(countDistinct(col("id")).as("clks"))
        val detail = st.campaign.select(col("id").as("campaign_id"),
            col("name"), col("advertiser_id"))
          .join(broadcast(st.advertiser.select(col("id").as("advertiser_id"),
            col("name").as("advertiser"))), Seq("advertiser_id"), "left")
          .join(impC, Seq("campaign_id"), "left")
          .join(clkC, Seq("campaign_id"), "left")
          .select(col("campaign_id"), col("name"), col("advertiser"),
            coalesce(col("imps"), lit(0L)).as("imps"),
            coalesce(col("clks"), lit(0L)).as("clks"),
            Core.round2p(when(col("imps") > 0,
              coalesce(col("clks"), lit(0L)) / col("imps") * 100)
              .otherwise(lit(0.0))).as("ctr"))
          .orderBy("campaign_id")
          .collect()  // bounded: |campaigns| detail lines, a terminal table
          .map(r => f"${r.getLong(0)}%-5d ${r.getString(1)}%-20s " +
            f"${String.valueOf(r.getString(2))}%-15s ${r.getLong(3)}%-12d " +
            f"${r.getLong(4)}%-8d ${r.getDouble(5)}%.2f%%")
        header ++ Seq("", "=== Campaign Details ===") ++ detail
      case other =>
        Seq(s"Unknown command: $other. " +
          "Use advertisers|campaigns|impressions|clicks|batch|stats|ingest|service|schedule|reset.")
    }
  }

  private def nowArg(rest: Seq[String]): String =
    opt(rest, "--now", graft.gen.Generators.DefaultNow)
  private def seedArg(rest: Seq[String]): Long =
    opt(rest, "--seed", "42").toLong

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/tmp/graft_pipeline")
    val spark = graft.Session.start()
    run(spark, base, args.drop(1).toSeq).foreach(println)
    spark.stop()
  }
}
