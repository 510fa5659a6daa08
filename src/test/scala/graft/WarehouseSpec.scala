package graft

import graft.gen.Generators
import graft.jobs.{DeltaUpsert, InitialLoad, Warehouse}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Storage round-trip: version-log append + partitioned daily facts +
  * report overwrite + reset (SURVEY S4–S8), with keep-latest reads across
  * process-like boundaries (write → read-back). */
class WarehouseSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-wh").toString

  test("version log append + latestView read-back across delta cycles") {
    val dir = tmp()
    val (adv, camp) = (Generators.advertisers(spark, 2),
      Generators.campaigns(spark, 2, 2))
    val imps1 = Generators.impressions(spark, 4, 30)
    val clks1 = Generators.clicks(imps1, 0.1)
    val totals1 = InitialLoad.campaignTotals(adv, camp, imps1, clks1)
    Warehouse.appendVersions(totals1, s"$dir/advertiser_campaigns",
      DeltaUpsert.Keys)

    // second generator round → delta rows appended, then read back
    val imps2 = imps1.unionByName(
      Generators.impressions(spark, 4, 10, "2024-06-03 12:00:00", 7L)
        .withColumn("id", col("id") + 5000))
    val totals2 = InitialLoad.campaignTotals(adv, camp, imps2, clks1)
    val log = Warehouse.read(spark, s"$dir/advertiser_campaigns")
    val delta = DeltaUpsert.deltaRows(totals2, log)
    assert(delta.count() > 0)
    Warehouse.appendVersions(delta, s"$dir/advertiser_campaigns",
      DeltaUpsert.Keys)

    val latest = DeltaUpsert.latest(
      Warehouse.read(spark, s"$dir/advertiser_campaigns"))
    assertSameRows(latest, totals2, "read-back latest vs recompute")
  }

  test("daily facts write partitioned by date (partition pruning layout)") {
    val dir = tmp()
    val camp = Generators.campaigns(spark, 2, 2)
    val imps = Generators.impressions(spark, 4, 50)
    val daily = InitialLoad.dailyCounts(camp, imps, "impressions")
    Warehouse.appendDaily(daily, s"$dir/daily", "day",
      Seq("rtm_advertiser_id", "rtm_campaign_id"))
    // hive-style partition dirs exist
    val parts = new java.io.File(s"$dir/daily").listFiles()
      .filter(_.getName.startsWith("day="))
    assert(parts.length > 1, "expected multiple date partitions")
    // read-back equals source
    assertSameRows(Warehouse.read(spark, s"$dir/daily")
      .select(daily.columns.map(col): _*), daily, "partitioned round-trip")
    // and the READER prunes: a date predicate becomes a PartitionFilter on
    // the scan (directory-level pruning — other days' files never open)
    val oneDay = daily.select(col("day")).head.getDate(0)
    val pruned = Warehouse.read(spark, s"$dir/daily")
      .filter(col("day") === lit(oneDay))
    val scans = pruned.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.exists(
        _.references.exists(_.name == "day"))),
      s"date predicate did not become a partition filter:\n${pruned.queryExecution}")
  }

  test("report overwrite replaces content; reset empties but keeps schema") {
    val dir = tmp()
    val camp = Generators.campaigns(spark, 2, 2)
    val imps = Generators.impressions(spark, 4, 20)
    val olap = InitialLoad.run(Generators.advertisers(spark, 2), camp, imps,
      Generators.clicks(imps, 0.2), "2024-06-01")
    Warehouse.overwriteReport(olap.totalsReport, s"$dir/report")
    val n1 = Warehouse.read(spark, s"$dir/report").count()
    Warehouse.overwriteReport(olap.totalsReport.limit(2), s"$dir/report")
    assert(Warehouse.read(spark, s"$dir/report").count() == 2 && n1 > 2)

    Warehouse.reset(spark, s"$dir/report", olap.totalsReport.schema)
    val after = Warehouse.read(spark, s"$dir/report")
    assert(after.count() == 0 &&
      after.columns.toSeq == olap.totalsReport.columns.toSeq)
  }

  test("migrateLog rewrites an old-typed log so new-typed appends read back") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = tmp()
    // A pre-decimal build wrote the log with DOUBLE money columns.
    Seq((1L, 10.5, "a"), (2L, 20.25, "b"))
      .toDF("id", "bid", "name")
      .write.mode("append").parquet(s"$dir/log")
    val target = StructType(Seq(
      StructField("id", LongType),
      StructField("bid", DecimalType(10, 2)),
      StructField("name", StringType)))
    Warehouse.migrateLog(spark, s"$dir/log", target)
    // New-schema rows append cleanly and the whole dir reads as one type.
    Seq((3L, BigDecimal("30.75"), "c")).toDF("id", "bid", "name")
      .select(col("id"), col("bid").cast("decimal(10,2)").as("bid"), col("name"))
      .write.mode("append").parquet(s"$dir/log")
    val back = Warehouse.read(spark, s"$dir/log")
    assert(back.schema("bid").dataType == DecimalType(10, 2))
    assert(back.count() == 3)
    assert(back.agg(sum(col("bid"))).head.getDecimal(0)
      .compareTo(new java.math.BigDecimal("61.50")) == 0)
  }

  test("compact bounds the log, preserves latestView and retained snapshots") {
    import spark.implicits._
    val dir = tmp()
    val log = s"$dir/log"
    // 5 appends of one version row per key = 5 versions × 3 keys, one
    // parquet write (≥1 file) each — the unbounded-growth shape.
    (1 to 5).foreach { v =>
      Seq(("k1", v.toLong, s"k1v$v"), ("k2", v.toLong, s"k2v$v"),
        ("k3", v.toLong, s"k3v$v"))
        .toDF("key", "ver", "payload")
        .write.mode("append").parquet(log)
    }
    val filesBefore = new java.io.File(log).listFiles()
      .count(_.getName.endsWith(".parquet"))
    val full = Warehouse.read(spark, log).persist()
    val latestFull = graft.ops.Core.latestView(full, Seq("key"), "ver").collect()
    val snapAt3 = graft.ops.Core.snapshotView(full, Seq("key"), "ver", lit(3L))
      .collect()
    full.unpersist()

    Warehouse.compact(spark, log, Seq("key"), "ver", retainVersions = 3)
    val compacted = Warehouse.read(spark, log).persist()
    try {
      // Contract 1: keep-latest is unchanged.
      assertSameRows(graft.ops.Core.latestView(compacted, Seq("key"), "ver"),
        spark.createDataFrame(
          spark.sparkContext.parallelize(latestFull.toIndexedSeq), compacted.schema),
        "latestView after compact")
      // Contract 2: snapshots within the retained horizon are unchanged
      // (retain 3 of 5 keeps versions 3..5; cutoff 3 lands on a kept row).
      assertSameRows(
        graft.ops.Core.snapshotView(compacted, Seq("key"), "ver", lit(3L)),
        spark.createDataFrame(
          spark.sparkContext.parallelize(snapAt3.toIndexedSeq), compacted.schema),
        "snapshot at retained version")
      // Contract 3: the log is bounded — 9 rows (3 keys × 3 retained), and
      // fewer files than the 5 appends left behind.
      assert(compacted.count() == 9, s"expected 9 rows, got ${compacted.count()}")
      val filesAfter = new java.io.File(log).listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(filesAfter < filesBefore,
        s"compaction should shrink the file count ($filesBefore -> $filesAfter)")
      // A cutoff OLDER than the horizon degrades to the oldest retained
      // version (documented trade): version 1 is gone, version 3 answers.
      val old = graft.ops.Core.snapshotView(compacted, Seq("key"), "ver", lit(1L))
      assert(old.count() == 0, "pre-horizon versions are compacted away")
    } finally compacted.unpersist()
  }

  test("additive schema evolution: merged read NULL-fills pre-column files") {
    import spark.implicits._
    val dir = tmp()
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .write.mode("append").parquet(s"$dir/log")
    Seq((3L, "c", 7L)).toDF("k", "v", "extra")
      .write.mode("append").parquet(s"$dir/log")
    val merged = Warehouse.readEvolved(spark, s"$dir/log")
    assert(merged.columns.toSet == Set("k", "v", "extra"))
    val rows = merged.select("k", "extra").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(rows == Map(1L -> None, 2L -> None, 3L -> Some(7L)), s"got $rows")
  }

  test("co-bucketed tables join with no exchange on either side") {
    import spark.implicits._
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a = (1L to 100L).map(i => (i, s"a$i")).toDF("k", "va")
      val b = (1L to 80L).map(i => (i, i * 2)).toDF("k", "vb")
      Warehouse.writeBucketed(a, "wh_bucketed_a", 4, Seq("k"))
      Warehouse.writeBucketed(b, "wh_bucketed_b", 4, Seq("k"))
      val joined = Warehouse.readTable(spark, "wh_bucketed_a")
        .join(Warehouse.readTable(spark, "wh_bucketed_b"), "k")
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$p")
      assert(joined.count() == 80)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("z-ordered layout bounds BOTH dimensions per file") {
    // 64x64 uniform grid, range-partitioned by Morton key: each file
    // should hold a compact 2-D tile. A lexicographic (x, y) sort would
    // give files spanning the FULL y range — no pruning on y predicates.
    val grid = spark.range(0, 4096).select(
      (col("id") % 64).as("x"),
      (col("id") / 64).cast("long").as("y"))
    val path = tmp() + "/zord"
    Warehouse.writeZOrdered(grid, path, "x", "y", partitions = Some(4))
    val files = new java.io.File(path).listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
    assert(files.length >= 2, s"expected multiple files, got ${files.length}")
    val areas = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(max("x") - min("x"), max("y") - min("y")).head
      (r.getLong(0) + 1.0) * (r.getLong(1) + 1.0)
    }
    val avgArea = areas.sum / areas.length
    // global bounding box is 64*64 = 4096; z-tiles (allowing one
    // straddling range boundary) must average well under half of it
    assert(avgArea <= 2048.0,
      s"z-order tiles too loose: avg bounding area $avgArea of 4096")
    // and the data read back is intact
    assert(spark.read.parquet(path).count() == 4096)
  }

  test("incremental totals report equals a full rebuild") {
    val dir = sf("sf0.001")
    val today = Adtech.Today
    val t0 = graft.queries.Parity.totals(spark, dir)
    // simulate a delta cycle: some campaigns get new clicks + a newer version
    val changed = t0.filter(col("rtm_campaign_id") % 97 === 0)
      .withColumn("campaign_clicks_count_total",
        col("campaign_clicks_count_total") + 10)
      .withColumn("rtm_delta", col("rtm_delta") + expr("INTERVAL 1 DAY"))
    assert(changed.count() > 0)
    val mergedTotals = graft.ops.Core.latestView(
      t0.unionByName(changed), DeltaUpsert.Keys, "rtm_delta")
    val full = graft.jobs.Reports.totalsReport(mergedTotals, today)
    val incremental = graft.jobs.Reports.incrementalTotalsReport(
      graft.jobs.Reports.totalsReport(t0, today), changed, today)
    assertSameRows(incremental, full, "incremental vs full rebuild")
  }

  test("incremental daily CTR report equals a full rebuild") {
    import spark.implicits._
    val dim = Seq((1L, 10L, "A", "C10"), (1L, 20L, "A", "C20"))
      .toDF("rtm_advertiser_id", "rtm_campaign_id",
        "advertiser_name", "campaign_name")
    def d(s: String) = java.sql.Date.valueOf(s)
    // Kind-tagged daily rows (DeltaUpsert.factDays' columns).
    def days(rows: (String, Long, Long, String, Long)*) =
      rows.map { case (k, a, c, day, n) => (k, a, c, d(day), n) }
        .toDF("kind", "rtm_advertiser_id", "rtm_campaign_id", "day",
          "daily_count")
    val clks = Seq(("clicks", 1L, 10L, "2024-06-01", 7L),
      ("clicks", 1L, 20L, "2024-06-01", 3L))
    val days1 = days(Seq(
      ("impressions", 1L, 10L, "2024-06-01", 100L),
      ("impressions", 1L, 10L, "2024-06-02", 50L),
      ("impressions", 1L, 20L, "2024-06-01", 80L)) ++ clks: _*)
    val prev = graft.jobs.Reports.dailyCtrReport(dim, days1)
    // Campaign 10 changes: day-2 count grows and day 3 appears — which
    // re-ranks EVERY campaign_day ordinal of campaign 10 (the reason
    // maintenance runs at campaign grain). Campaign 20 is untouched.
    val days2 = days(Seq(
      ("impressions", 1L, 10L, "2024-06-01", 100L),
      ("impressions", 1L, 10L, "2024-06-02", 60L),
      ("impressions", 1L, 10L, "2024-06-03", 30L),
      ("impressions", 1L, 20L, "2024-06-01", 80L)) ++ clks: _*)
    val touched = Seq((1L, 10L))
      .toDF("rtm_advertiser_id", "rtm_campaign_id")
    assertSameRows(
      graft.jobs.Reports.incrementalDailyCtrReport(prev, touched, dim,
        days2),
      graft.jobs.Reports.dailyCtrReport(dim, days2),
      "incremental daily vs full rebuild")
  }
}
