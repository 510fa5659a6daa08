package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths => JPaths}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry
import graft.gen.{DeltaActions, Generators}
import graft.jobs.{InitialLoad, Main, Warehouse}
import graft.queries.Extensions

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def arr(xs: Seq[Double]): String = xs.map(num).mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** What one workload run hands back to the python runner. */
final class Outcome {
  var setupRepsS = Seq.empty[Double]
  var warmS = 0.0
  /** Summed wall time of the timed unit ops (cycles, or queries). */
  var runS = 0.0
  var units = 0
  val opS = mutable.ArrayBuffer.empty[Double]
  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer.empty[String]
  val extra = mutable.ArrayBuffer.empty[(String, String)]

  def fail(what: String, e: Throwable): Unit = {
    failed += 1
    if (errors.size < 20)
      errors += s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
  }
}

/** One benchmark run in its own JVM: start the session, set the workload
  * up `--reps` times, run `--units` timed unit ops from one client thread,
  * check the answers outside every timed span, and write a JSON result
  * (plus, with `--trace 1`, the spans as JSON lines).
  *
  * Usage: Harness --workload W --seed N --units U --reps R --trace 0|1
  *   --cpus N --base DIR --out FILE [--warm K] [--data DIR --queries a,b,...]
  *   [--spans FILE] */
object Harness {

  def session(cpus: Int, base: String): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$base/spark-local")
      .config("spark.sql.warehouse.dir", s"$base/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$base/hadoop-tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def peakRssMb(): Double = {
    val lines = new String(Files.readAllBytes(JPaths.get("/proc/self/status")),
      StandardCharsets.UTF_8).split("\n")
    lines.find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val base = a("base")
    val traced = a.getOrElse("trace", "0") == "1"
    val cpus = a("cpus").toInt

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cpus, base)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val tracer = new Tracer(spark, traced)
    val out = new Outcome
    try {
      workload match {
        case "etl_cycles" =>
          EtlCycles.run(spark, tracer, out, base, seed, a("units").toInt,
            a("reps").toInt, a("warm").toInt)
        case "query_mix" =>
          QueryMix.run(spark, tracer, out, a("data"), base, seed,
            a("queries").split(",").toSeq, a("units").toInt, a("reps").toInt)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      tracer.finish()
      val layers = if (traced) Layers.of(tracer, out, cpus) else Nil
      val fields = Seq(
        "workload" -> Json.str(workload),
        "cpus" -> cpus.toString,
        "session_s" -> Json.num(sessionS),
        "setup_reps_s" -> Json.arr(out.setupRepsS),
        "warm_s" -> Json.num(out.warmS),
        "run_s" -> Json.num(out.runS),
        "units" -> out.units.toString,
        "op_s" -> Json.arr(out.opS.toSeq),
        "attempted" -> out.attempted.toString,
        "failed" -> out.failed.toString,
        "errors" -> out.errors.map(Json.str).mkString("[", ",", "]"),
        "peak_rss_mb" -> Json.num(peakRssMb()),
        "layers" -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) })
      ) ++ out.extra
      Files.write(JPaths.get(a("out")),
        Json.obj(fields).getBytes(StandardCharsets.UTF_8))
      a.get("spans").filter(_ => traced).foreach { p =>
        Files.write(JPaths.get(p), tracer.spans.map(tracer.spanJson(_, workload))
          .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      }
    } finally spark.stop()
  }
}

/** Per-layer figures from a traced run, per unit op of the timed phase
  * (per cycle or per pass); `jobs.initial_load_s` is per set-up
  * repetition. Spark, Catalyst, codegen and file-listing counts add up the
  * spans around graft's calls ([[Leaf]]), so the harness's own work (GC,
  * fingerprints, answer copies) is only in `bench.self_s`. */
object Layers {
  val Leaf = Seq("gen.step", "jobs.delta", "jobs.compact", "jobs.report_read",
    "queries.build", "queries.exec")

  def of(t: Tracer, out: Outcome, cpus: Int): Seq[(String, Double)] = {
    val run = t.spans.find(_.name == "phase.run").get
    val units = out.units.max(1).toDouble
    val leaves = t.under(run).filter(s => Leaf.contains(s.name))
    val perLeaf = Leaf.map(n => s"${n}_s" ->
      leaves.filter(_.name == n).map(_.durS).sum / units)
    val loads = t.spans.filter(_.name == "jobs.initial_load")
    val initial = "jobs.initial_load_s" ->
      (if (loads.isEmpty) 0.0 else loads.map(_.durS).sum / loads.size)
    def sum(k: String) = leaves.map(s => t.counters(s).getOrElse(k, 0.0)).sum
    val wall = leaves.map(_.durS).sum
    val counted = (Tracer.CountNames ++ Tracer.SnapNames :+ "spark.in_job_s")
      .map(k => k -> sum(k) / units)
    val derived = Seq(
      "spark.driver_gap_s" -> (wall - sum("spark.in_job_s")) / units,
      "spark.core_busy_frac" -> (if (wall > 0) sum("spark.task_busy_s") / (cpus * wall) else 0.0),
      "bench.self_s" -> (run.durS - wall) / units,
      "trace.run_s" -> out.runS)
    (perLeaf :+ initial) ++ counted ++ derived
  }
}

/** The paper's workload: seed an OLTP store through `gen.Generators`, run
  * `Main.initialLoad`, then cycles of `Main.generateStep` →
  * `Main.deltaStep` → a read of both reports, compacting every 5th cycle.
  * The maintained reports are checked against a from-scratch
  * `InitialLoad.run` over the final OLTP state. */
object EtlCycles {
  val Advertisers = 20
  val CampaignsPerAdvertiser = 10
  val ImpressionsPerCampaign = 1000
  val ClickRatio = 0.08
  val CompactEvery = 5
  private val Fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  def seedStore(spark: SparkSession, p: Main.Paths, seed: Long): Unit = {
    val now = Generators.DefaultNow
    val nCamp = Advertisers * CampaignsPerAdvertiser
    val imps = Generators.impressions(spark, nCamp, ImpressionsPerCampaign, now, seed)
    Generators.advertisers(spark, Advertisers, now).write.parquet(p.advertiser)
    Generators.campaigns(spark, Advertisers, CampaignsPerAdvertiser, now, seed)
      .write.parquet(p.campaign)
    imps.write.parquet(p.impressions)
    Generators.clicks(imps, ClickRatio, seed).write.parquet(p.clicks)
  }

  def run(spark: SparkSession, t: Tracer, out: Outcome, base: String,
          seed: Long, units: Int, reps: Int, warm: Int): Unit = {
    val today = Generators.DefaultNow.take(10)
    val t0 = java.time.LocalDateTime.parse(Generators.DefaultNow, Fmt)
    val stores = (0 until reps).map(r => Main.Paths(s"$base/etl$r"))
    val setup = stores.map { p =>
      t.span("setup.rep") {
        t.span("gen.seed")(seedStore(spark, p, seed))
        t.span("jobs.initial_load")(Main.initialLoad(spark, p, today))
      }
    }
    out.setupRepsS = setup.map(_._2)
    val p = stores.last
    // Each cycle's action is fixed up front, so every run does the same
    // work: the warm-up cycles append dimension rows (advertisers,
    // campaigns) and the timed cycles fact rows, one impressions and one
    // clicks action per pair, in seeded order. The cycle's RNG is the
    // first seeded one with which DeltaActions.step picks that action.
    val order = new scala.util.Random(seed)
    def plan(actions: Seq[String], n: Int) =
      Iterator.continually(order.shuffle(actions)).flatten.take(n).toSeq
    val actions = plan(Seq("advertisers", "campaigns"), warm) ++
      plan(Seq("impressions", "clicks"), units)
    def rngFor(i: Int): scala.util.Random = {
      val want = DeltaActions.ActionNames.indexOf(actions(i - 1))
      Iterator.from(0).map(k => seed * 1000003L + i * 7919L + k).map { x =>
        val probe = new scala.util.Random(x)
        probe.nextLong()
        (x, probe.nextInt(DeltaActions.ActionNames.size))
      }.collectFirst { case (x, a) if a == want => new scala.util.Random(x) }.get
    }

    /** One cycle; returns its freshness, the deltaStep's seconds. */
    def cycle(i: Int): Double = t.span("etl.cycle", i) {
      val now = t0.plusMinutes(3L * i).format(Fmt)
      t.span("gen.step", tag = actions(i - 1))(Main.generateStep(spark, p, now, rngFor(i)))
      val (_, deltaS) = t.span("jobs.delta")(Main.deltaStep(spark, p, today))
      val (rows, _) = t.span("jobs.report_read") {
        (Warehouse.read(spark, p.totalsReport).count(),
          Warehouse.read(spark, p.dailyCtrReport).count())
      }
      if (i % CompactEvery == 0) t.span("jobs.compact")(Main.compactBatchLogs(spark, p))
      if (rows._1 <= 0 || rows._2 <= 0)
        throw new IllegalStateException(s"empty report after cycle $i: $rows")
      deltaS
    }._1

    out.warmS = t.span("setup.warm")((1 to warm).foreach(cycle))._2
    t.span("phase.run") {
      (warm + 1 to warm + units).foreach { i =>
        out.attempted += 1
        val before = System.nanoTime()
        try out.opS += cycle(i)
        catch { case e: Throwable => out.fail(s"cycle $i", e) }
        out.runS += (System.nanoTime() - before) / 1e9
      }
    }
    out.units = units
    check(spark, p, today).foreach { why =>
      out.failed += 1
      out.errors += s"final reports differ from a from-scratch load: $why"
    }
  }

  /** Maintained reports vs `InitialLoad.run` over the final OLTP state,
    * compared as multisets of rows on the driver (the reports are small). */
  def check(spark: SparkSession, p: Main.Paths, today: String): Option[String] = {
    val st = Main.oltp(spark, p)
    val olap = InitialLoad.run(st.advertiser, st.campaign, st.impressions, st.clicks, today)
    val pairs = Seq(
      "campaign_totals_report" -> (Warehouse.read(spark, p.totalsReport), olap.totalsReport),
      "campaign_daily_ctr_report" -> (Warehouse.read(spark, p.dailyCtrReport), olap.dailyCtrReport))
    def bag(rows: Seq[Row]) = rows.groupBy(_.toString).view.mapValues(_.size).toMap
    pairs.flatMap { case (name, (got, want)) =>
      val cols = want.columns.sorted.toSeq
      if (got.columns.sorted.toSeq != cols) Some(s"$name columns ${got.columns.mkString(",")}")
      else {
        val g = got.select(cols.map(got.col): _*).collect().toSeq
        val w = bag(want.select(cols.map(want.col): _*).collect().toSeq)
        // the comparison must also see a planted wrong answer: a row short
        if (g.isEmpty || bag(g.tail) == w) Some(s"$name: the check missed a planted missing row")
        else if (bag(g) != w) Some(s"$name: ${g.size} maintained rows differ from ${w.values.sum} rebuilt")
        else None
      }
    }.headOption
  }
}

/** A fixed query mix run pass after pass, each pass in a seeded order.
  * Every query is built and collected inside its timed span; the answer
  * is fingerprinted outside it, and the first timed pass's rows are kept
  * for the DuckDB comparison the python runner makes. */
object QueryMix {

  def fingerprint(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach { r =>
      md.update(r.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte)
    }
    md.digest().take(12).map(b => f"$b%02x").mkString
  }

  def run(spark: SparkSession, t: Tracer, out: Outcome, dataDir: String,
          base: String, seed: Long, names: Seq[String], units: Int,
          reps: Int): Unit = {
    val byShort = SparkEntry.specs.map(s => s.name.takeWhile(_ != '_') -> s).toMap
    val specs = names.map(n => byShort.getOrElse(n,
      throw new IllegalArgumentException(s"no query $n")))
    val rng = new scala.util.Random(seed)
    val prints = mutable.Map.empty[String, mutable.ArrayBuffer[String]]
    val rowCounts = mutable.Map.empty[String, Long]
    val answers = s"$base/answers"

    def pass(dir: String, timed: Boolean, keep: Boolean): Unit = {
      // a collection before every pass, outside the timed spans, so no
      // pass pays for its predecessors' garbage
      System.gc()
      rng.shuffle(specs).foreach { spec =>
        if (timed) out.attempted += 1
        try {
          val before = System.nanoTime()
          val (df, _) = t.span("queries.build", tag = spec.name)(spec.build(spark, dir))
          val (rows, _) = t.span("queries.exec", tag = spec.name)(df.collect())
          Extensions.freeCkptFresh(df)
          val took = (System.nanoTime() - before) / 1e9
          if (timed) { out.opS += took; out.runS += took }
          System.err.println(f"[perfbench] ${spec.name} ${if (timed) "timed" else "setup"} $took%.3f s")
          prints.getOrElseUpdate(spec.name, mutable.ArrayBuffer.empty) += fingerprint(rows)
          rowCounts(spec.name) = rows.length.toLong
          if (keep) spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
            .coalesce(1).write.parquet(s"$answers/${spec.name}")
        } catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] ${spec.name} failed: $e")
            if (timed) out.fail(spec.name, e)
        }
      }
    }

    // Each set-up repetition is a first pass over its own copy of the
    // inputs, so per-directory memos and caches start cold every time.
    val copies = (0 until reps).map { r =>
      val d = s"$base/data$r"
      copyTree(dataDir, d)
      d
    }
    out.setupRepsS = copies.map(d => t.span("setup.rep")(pass(d, timed = false, keep = false))._2)
    val dir = copies.last
    t.span("phase.run") {
      (0 until units).foreach(i => t.span("queries.pass", i)(pass(dir, timed = true, keep = i == 0)))
    }
    out.units = units
    val oracle = SparkEntry.oracleSql
    out.extra += "answers" -> Json.str(answers)
    out.extra += "queries" -> Json.obj(specs.map { s =>
      s.name -> Json.obj(Seq(
        "fingerprints" -> prints.getOrElse(s.name, Nil).map(Json.str).mkString("[", ",", "]"),
        "rows" -> rowCounts.getOrElse(s.name, -1L).toString,
        "oracle" -> oracle.get(s.name).map(Json.str).getOrElse("null")))
    })
  }

  def copyTree(from: String, to: String): Unit = {
    val src = JPaths.get(from)
    Files.walk(src).forEach { f =>
      val dst = JPaths.get(to).resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(dst)
      else Files.copy(f, dst)
    }
  }
}
