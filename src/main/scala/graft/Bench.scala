package graft

/** Benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Each query is forced through full execution with the `noop` sink —
  * `count()` would let Catalyst skip computing projected columns, which
  * under-measures report-style queries. One trivial warm-up job runs first
  * so JIT/codegen compilation isn't billed to the first query.
  *
  * MEASUREMENT ISOLATION — each query starts from the same JVM posture:
  * the catalog cache is cleared and a GC is forced before its first
  * iteration, so a predecessor's lingering cached blocks / garbage can't
  * be billed to it. Two consecutive rounds showed 2-11× swings on
  * queries whose plans had not changed; shared-JVM carry-over state was
  * the only remaining suspect.
  *
  * Each query runs SPARK_GRAFT_ITERS times (default 5) and reports the
  * MEDIAN plus the MIN and the successful-iteration count: a single shot
  * in a shared JVM cannot tell a plan regression from a GC pause, and
  * min-vs-median divergence in the artifact is how noise is diagnosed
  * WITHOUT re-running (a plan regression moves both; a pause moves only
  * the median).
  *
  * SAMPLING WIDTH is keyed off the PRIOR round's artifact, not the
  * current median: a query widens to SPARK_GRAFT_ITERS_SUB1 total
  * iterations (default 7) when its prior-round median was sub-second
  * (per-job scheduling noise is the same order as the measurement there)
  * OR when the current median exceeds 1.5× its prior-round time (the
  * suspected-drift case — exactly the one a current-median gate misses,
  * because the drifted query is no longer sub-second). The prior artifact
  * is found by [[priorTimes]]; queries absent from it fall back to the
  * current-median-sub-second rule.
  *
  * REGRESSION COMPARE: when a prior artifact exists (the same lookup
  * as above, restricted to artifacts at this run's scale factor),
  * queries whose min-grain ratio vs prior exceeds 1.25× the host drift
  * (and ≥ 0.15 s absolute) get two extra interleaved confirm
  * iterations, and BENCH_LOCAL.json carries a "regressions" object with
  * each suspect's prior/current/confirmed mins, its drift-adjusted
  * ratio, and a "host"/"suspect" verdict. The host normalizer is the
  * median cur/prior ratio over ALL compared queries — the same workload
  * mix on both runs. A prior artifact may come from another machine, so
  * the compare pass never convicts: a "suspect" is settled by the
  * same-host cross-commit A/B (tools/ab_bench.sh — the prior BUILD
  * interleaved against this one on this machine), whose command line the
  * artifact names under "adjudicate".
  *
  * Output formatting is part of the contract — the driver captures only
  * a ~2000-char TAIL of stdout, so the artifact layout is split:
  *  - `BENCH_LOCAL.json` (written to the working directory) carries the
  *    FULL result — millisecond medians plus the parallel "mins" /
  *    "iters" maps and errors/flaky — and is what `priorTimes` prefers
  *    next round. Stdout truncation can never cost it data.
  *  - stdout's LAST line is the driver contract
  *    (metric/value/unit/queries/sf) with the complete median map in
  *    compact form (centiseconds, trailing zeros stripped; errors and
  *    flaky only when non-empty) so it fits whole inside the tail
  *    window — `stdoutLineFits` in BenchSpec pins the budget against
  *    the real registered-query names.
  *  - "mins"/"iters" print on an EARLIER stdout line: diagnostics that
  *    may be clipped by the tail window without losing anything the
  *    repo file doesn't already hold.
  */
object Bench {

  /** Driver-side stdout capture window (chars). The final stdout line
    * must fit inside it WHOLE, or the median map is sliced mid-entry —
    * round 6 lost its medians exactly this way when mins/iters pushed
    * the single line to ~5.6 KB. */
  private[graft] val TailWindow = 2000

  /** Per-query times from the best available prior artifact (empty
    * when none exists — first round, or running outside the repo root):
    * the "queries" medians for the widen rule, or (`key` = "mins") the
    * compare pass's min grain — a median moves with GC pauses, the min
    * only with plan or host changes.
    *
    * Preference order: the SPARK_GRAFT_PRIOR_JSON override, then
    * `BENCH_LOCAL.json` (this program's own full-fidelity file from the
    * previous run — never truncated), then the highest-numbered driver
    * artifact BENCH_r*.json. The first candidate whose parse yields
    * times wins — a present but corrupt/empty BENCH_LOCAL.json must not
    * mask a usable driver artifact (an empty prior silently downgrades
    * the widen rule). A non-empty `sf` skips candidates recorded at a
    * DIFFERENT scale factor: an sf0.001 run compared against an sf0.1
    * baseline produces ratio garbage in both directions. */
  private[graft] def priorTimes(dir: String = ".", key: String = "queries",
                                sf: String = ""): Map[String, Double] = {
    def readAll(p: String): String =
      try new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")
      catch { case _: Exception => "" }
    val local = new java.io.File(dir, "BENCH_LOCAL.json")
    val driverArtifact = {
      val rx = "BENCH_r(\\d+)\\.json".r
      Option(new java.io.File(dir).listFiles()).toSeq.flatten
        .flatMap(f => f.getName match {
          case rx(n) => Some(n.toInt -> f.getPath)
          case _     => None
        })
        .sortBy(_._1).lastOption.map(_._2)
    }
    val candidates =
      sys.env.get("SPARK_GRAFT_PRIOR_JSON").toSeq ++
        Option(local.getPath).filter(_ => local.isFile).toSeq ++
        driverArtifact.toSeq
    candidates.iterator.map(readAll)
      .filter(raw => sf.isEmpty ||
        parsePriorSf(raw).forall(_ == new java.io.File(sf).getName))
      .map(parsePriorKey(_, key))
      .find(_.nonEmpty).getOrElse(Map.empty)
  }

  private[graft] def parsePrior(raw: String): Map[String, Double] =
    parsePriorKey(raw, "queries")

  /** The first `key` object of an artifact as name → seconds. A driver
    * artifact WRAPS the stdout tail inside a JSON string field ("tail"),
    * so every quote arrives backslash-escaped — unescape before
    * anchoring. The first "queries" object is always the median map
    * ("mins"/"iters" come later). Works on the raw line, the wrapped
    * form, and any whitespace-pretty variant. */
  private[graft] def parsePriorKey(raw: String,
                                   key: String): Map[String, Double] = {
    val text = raw.replace("\\\"", "\"")
    (s""""$key"\\s*:\\s*\\{""").r.findFirstMatchIn(text)
      .fold(Map.empty[String, Double]) { m =>
        val start = m.end
        val end = text.indexOf('}', start)
        val body = if (end < 0) text.substring(start)
                   else text.substring(start, end)
        "\"([^\"]+)\"\\s*:\\s*(-?[0-9.]+)".r.findAllMatchIn(body)
          .map(x => x.group(1) -> x.group(2).toDouble).toMap
      }
  }

  /** The prior artifact's scale-factor basename ("sf0.1"), or None. */
  private[graft] def parsePriorSf(raw: String): Option[String] = {
    val text = raw.replace("\\\"", "\"")
    """"sf"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(text)
      .map(m => new java.io.File(m.group(1)).getName)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = Session.sfDir
    // Default raised 3 → 5 in round 10: the round-9 artifact recorded a
    // 1.27× phantom regression on untouched code (host-load noise; 40
    // unrelated sub-second queries slowed in lockstep) — two more
    // iterations per query move the median far enough from single-pause
    // territory that the gate number stops tracking the host.
    val iters = Session.iters(5)
    // A/B HARNESS HOOKS. SPARK_GRAFT_ONLY=<a,b,...> restricts the run to
    // the named queries (full names or short keys) — the cross-commit
    // A/B orchestrator (tools/ab_bench.sh) uses it to interleave a PRIOR
    // BUILD against the current one on the same host without paying two
    // full-suite runs per flag. A restricted run SKIPS the regression-
    // compare pass: the workload-median host normalizer is only sound
    // over the full suite mix (a hand-picked subset of suspects would
    // normalize suspects against themselves). SPARK_GRAFT_OUT overrides
    // the full-fidelity artifact path (each A/B leg writes its own).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val specs = SparkEntry.specs.filter(sp =>
      only.forall(o => o(sp.name) || o(shortName(sp.name))))
    // A restricted (SPARK_GRAFT_ONLY) run writes its partial mins map
    // to a DISTINCT default: run from the repo root it would otherwise
    // silently overwrite the full-suite BENCH_LOCAL.json, and the next
    // round's prior lookup would read the partial file first and blind
    // the compare pass for every unlisted query (ab_bench.sh avoids
    // this with scratch cwds and an explicit SPARK_GRAFT_OUT; a
    // hand-run restricted bench did not).
    val outPath = sys.env.getOrElse("SPARK_GRAFT_OUT",
      if (only.isDefined) "BENCH_ONLY.json" else "BENCH_LOCAL.json")
    val spark = Session.start()

    // Warm-up: JIT the code paths every query shares — parquet scan,
    // hash-aggregate shuffle, noop sink — on a tiny table, so that cost
    // is not billed to whichever query happens to run first.
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/nation.parquet")
      .groupBy("n_regionkey").count()
      .write.format("noop").mode("overwrite").save()

    val prior = priorTimes()
    def median(xs: Seq[Double]): Double = { val s = xs.sorted; s(s.size / 2) }

    /** One measured run: GC outside the timed section (late in the suite
      * the heap carries tens of queries' floating garbage, and a
      * shuffle-heavy query otherwise pays its predecessors' collections
      * inside its own measurement — observed: t13 steady at 3.5 s in a
      * fresh JVM vs ~11 s as query #50 of this one), then build + noop
      * sink + release of the run's per-invocation eager checkpoints (the
      * free is timed; it is a handful of async unpersist calls). Each
      * run rebuilds from scratch, so without the release a 5-iteration
      * run of a checkpointing query pins 5 generations of blocks and
      * later queries pay the GC; memoized frames are pinned and survive
      * (their reuse across iterations is part of the measured design).
      * Seconds, or the failure's message. */
    def runOnce(spec: graft.queries.QuerySpec): Either[String, Double] = {
      System.gc()
      val t0 = System.nanoTime()
      try {
        val df = spec.build(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        graft.queries.Extensions.freeCkptFresh(df)
        Right((System.nanoTime() - t0) / 1e9)
      } catch {
        case e: Throwable => Left(String.valueOf(e.getMessage))
      }
    }

    // A failed query must be visible IN the JSON (not only stderr): its
    // per-query entry becomes JSON `null` — never a numeric sentinel a
    // consumer could sum — and its message goes into an "errors" object;
    // the process then exits nonzero so the round gate can't pass on a
    // partial run. A query enters "errors" only when EVERY iteration
    // failed (one entry, the first message — duplicate JSON keys are
    // invalid); a query failing on SOME iterations keeps its positive
    // median but is surfaced in a "flaky" object (name → failed-iteration
    // count) so partial failures can't hide behind a good median.
    val subSecIters = sys.env.getOrElse("SPARK_GRAFT_ITERS_SUB1", "7")
      .toInt.max(iters)
    var errors = Vector.empty[(String, String)]
    var flaky = Vector.empty[(String, Int)]
    val results = specs.map { spec =>
      // Isolation: every query starts from a cleared cache (queries
      // manage their own persist/unpersist; anything still cached here
      // is a leak by definition). Heap isolation is per-ITERATION, in
      // runOnce.
      spark.catalog.clearCache()
      var firstErr: Option[String] = None
      def sample(n: Int): Seq[Option[Double]] = (1 to n).map { _ =>
        runOnce(spec) match {
          case Right(t) => Some(t)
          case Left(msg) =>
            System.err.println(s"[bench] ${spec.name} failed: $msg")
            if (firstErr.isEmpty)
              firstErr = Some(msg.replaceAll("[\"\\\\\\p{Cntrl}]", " ").take(200))
            None
        }
      }
      val base = sample(iters)
      val baseGood = base.flatten
      // Widen the sample before judging, keyed off the PRIOR round where
      // one exists: prior sub-second (noise-dominated) or current median
      // >1.5× prior (suspected drift — re-measure, don't re-report).
      // Prior artifacts key by full name (BENCH_LOCAL.json) or by the
      // stdout line's short key (a driver-captured BENCH_r*.json) —
      // accept either.
      val widen = baseGood.nonEmpty &&
        widenRule(prior.get(spec.name)
          .orElse(prior.get(shortName(spec.name))), median(baseGood))
      val times = if (widen) base ++ sample(subSecIters - iters) else base
      // Median of the successful runs; an all-fail query carries NO
      // number — `null` in every map, absent from the total — so no
      // downstream consumer can mis-aggregate a sentinel as a timing
      // (round 7's negative sentinels made a 7-query-short total look
      // like a 12% speedup).
      val good = times.flatten
      if (good.isEmpty) firstErr.foreach(m => errors :+= (spec.name -> m))
      else if (good.size < times.size)
        flaky :+= (spec.name -> (times.size - good.size))
      val med = if (good.isEmpty) None else Some(median(good))
      val mn = if (good.isEmpty) None else Some(good.min)
      (spec.name, med, mn, good.size)
    }
    // REGRESSION COMPARE against the prior artifact's mins: separate
    // real cost changes from host drift WITHOUT burning a judge round
    // on it. Grain is the per-query MIN (medians move with GC pauses).
    //  - host-drift normalizer: the median cur/prior ratio over ALL
    //    compared queries — the same workload mix measured on both
    //    runs. Over ALL, not a "flat band": under a whole-host slowdown
    //    a band-limited set self-selects the least-affected queries and
    //    under-estimates the drift (measured: a 2.6× slower host
    //    flagged 21 false "real"s under the band form). The median
    //    stays honest as long as a true regression hits under half the
    //    suite.
    //  - suspects (ratio > 1.25 × host drift AND ≥ 0.15 s absolute —
    //    tiny queries breathe ±50 ms on scheduling alone) get a
    //    CONFIRM pass: two extra iterations each, interleaved
    //    round-robin so a transient co-tenant burst cannot sit on one
    //    query's whole sample.
    //  - verdict "suspect" iff the confirmed min still exceeds
    //    1.15 × prior × hostDrift; otherwise "host".
    val priorMin =
      if (only.isDefined) Map.empty[String, Double]
      else priorTimes(key = "mins", sf = sfDir)
    val curMinByName = results.collect {
      case (k, _, Some(mn), _) => k -> mn
    }.toMap
    val compared = curMinByName.flatMap { case (k, cur) =>
      priorMin.get(k).orElse(priorMin.get(shortName(k)))
        .filter(_ > 0).map(p => k -> (p, cur, cur / p))
    }
    val allRatios = compared.values.map(_._3).toSeq
    val hostDrift =
      if (allRatios.isEmpty) 1.0 else median(allRatios)
    // Suspect threshold rides ON TOP of the host drift: a uniformly
    // loaded host must not send half the suite through confirm runs.
    val suspects = compared.filter { case (_, (p, cur, r)) =>
      r > 1.25 * hostDrift && cur - p >= 0.15
    }.keys.toSeq.sorted
    val specByName = specs.map(s => s.name -> s).toMap
    var confirmMin = Map.empty[String, Double]
    for (pass <- 1 to 2; name <- suspects) {
      specByName.get(name).foreach { spec =>
        spark.catalog.clearCache()
        runOnce(spec).foreach(t => confirmMin = confirmMin.updated(name,
          math.min(t, confirmMin.getOrElse(name, Double.MaxValue))))
      }
    }
    val regressions = suspects.map { name =>
      val (p, cur, _) = compared(name)
      val confirmed = math.min(cur, confirmMin.getOrElse(name, cur))
      val adj = confirmed / (p * math.max(hostDrift, 1e-9))
      (name, p, cur, confirmed, adj, regressionVerdict(adj))
    }
    val toAdjudicate = regressions.collect { case r if r._6 == "suspect" => r._1 }

    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    def j(v: Option[Double]): String = v.fold("null")(x => r3(x).toString)
    val qs = results.map { case (k, med, _, _) => "\"" + k + "\":" + j(med) }
      .mkString("{", ",", "}")
    val mins = results.map { case (k, _, mn, _) => "\"" + k + "\":" + j(mn) }
      .mkString("{", ",", "}")
    val ns = results.map { case (k, _, _, n) => "\"" + k + "\":" + n }
      .mkString("{", ",", "}")
    val errJson = errors.map { case (k, m) => "\"" + k + "\":\"" + m + "\"" }
      .mkString("{", ",", "}")
    val flakyJson = flaky.map { case (k, n) => "\"" + k + "\":" + n }
      .mkString("{", ",", "}")
    val total = r3(results.flatMap { case (_, med, _, _) => med }.sum)
    val regJson = regressions.map { case (k, p, cur, conf, adj, v) =>
      "\"" + k + "\":{\"prior_min\":" + r3(p) + ",\"min\":" + r3(cur) +
        ",\"confirmed_min\":" + r3(conf) + ",\"drift_adj_ratio\":" + r3(adj) +
        ",\"verdict\":\"" + v + "\"}"
    }.mkString("{", ",", "}")
    val adjudicate = adjudicator(toAdjudicate)
    val adjJson = adjudicate.fold("")(c => s""","adjudicate":"$c"""")
    adjudicate.foreach(c => System.err.println(
      s"[bench] ${toAdjudicate.size} suspect regression(s); adjudicate on this host: $c"))
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","host_drift":${r3(hostDrift)},"queries":$qs,"mins":$mins,"iters":$ns,"errors":$errJson,"flaky":$flakyJson,"regressions":$regJson$adjJson,"sf":"$sfDir"}"""
    // Full-fidelity artifact, immune to stdout-tail truncation; next
    // round's priorTimes reads it first.
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath),
      (full + "\n").getBytes("UTF-8"))
    catch {
      case e: Exception =>
        System.err.println(s"[bench] $outPath not written: ${e.getMessage}")
    }
    // Diagnostics first (clipped harmlessly by the tail window), the
    // driver-contract line LAST — and it must fit the window whole.
    println(s"""{"mins":$mins,"iters":$ns}""")
    println(stdoutLine(total, results.map { case (k, med, _, _) => k -> med },
      errors, flaky, sfDir))
    spark.stop()
    // A bench with errored queries must not pass the round gate silently:
    // the total covers only the queries that ran, so comparing it against
    // a full prior round is meaningless. Nonzero exit makes the driver
    // record the run as failed (round 7's rc:0 on 7 errors hid a real
    // regression behind an apparent speedup).
    if (errors.nonEmpty) sys.exit(1)
  }

  /** A suspect's verdict after the confirm pass: "suspect" iff its
    * drift-adjusted ratio (confirmed min / (prior min × host drift))
    * still exceeds 1.15, else "host". Never a conviction: the prior
    * artifact may come from a different machine (round 14 shipped eight
    * "real" flags on untouched code whose priors came from another
    * host), so a suspect goes to the same-host A/B ([[adjudicator]]). */
  private[graft] def regressionVerdict(driftAdjRatio: Double): String =
    if (driftAdjRatio <= 1.15) "host" else "suspect"

  /** The command that settles `suspects` — the same-host cross-commit
    * A/B of the prior build against this one — or None when there is
    * nothing to settle. The prior ref is the commit that produced the
    * prior artifact, which only the person running the bench knows. */
  private[graft] def adjudicator(suspects: Seq[String]): Option[String] =
    if (suspects.isEmpty) None
    else Some(s"tools/ab_bench.sh <prior-ref> ${suspects.mkString(",")}")

  /** Whether a query's sample should widen past the base iteration
    * count. Keyed off the PRIOR round's median where one exists: prior
    * sub-second (scheduling noise is the same order as the measurement),
    * current median sub-second (a query that got FASTER is
    * noise-dominated now — with prior ≥1 s and median below 1.5× prior,
    * neither prior-keyed clause would fire, reporting a 3-sample median
    * in the exact regime the original current-median gate existed for),
    * or current median >1.5× prior (suspected drift — re-measure, don't
    * re-report). */
  private[graft] def widenRule(prior: Option[Double], m: Double): Boolean =
    prior match {
      case Some(p) if p > 0 => p < 1.0 || m < 1.0 || m > 1.5 * p
      case _                => m < 1.0
    }

  /** A query's short key for the stdout line: the operator id up to the
    * first underscore ("q01_campaign_totals" → "q01") — unique across
    * the registry by the naming scheme (BenchSpec pins it), and the
    * same shape the driver contract's own example uses ("q1": sec).
    * Full names ↔ short keys map by prefix; BENCH_LOCAL.json keys by
    * full name. */
  private[graft] def shortName(full: String): String =
    full.takeWhile(_ != '_')

  /** The driver-contract final stdout line. Complete median map in
    * compact form — SHORT query keys (shortName; at ~11 chars/entry the
    * 72-query registry uses under half the tail window, where full
    * names overflowed it at exactly this size in round 6), centisecond
    * precision below 10 s and decisecond above (both regimes far inside
    * this harness's noise band; millisecond medians under full names
    * live in BENCH_LOCAL.json), trailing zeros stripped, errors/flaky
    * objects only when non-empty with error messages clipped to 60
    * chars (full text in BENCH_LOCAL.json and on stderr — and an
    * all-fail query is ALSO visible here as a `null` median), sf as
    * its basename. Falls back to full names if the short forms ever
    * collide (correct beats compact). BenchSpec pins the whole line
    * under [[TailWindow]] for the real query registry. */
  private[graft] def stdoutLine(
      total: Double,
      medians0: Seq[(String, Option[Double])],
      errors: Seq[(String, String)],
      flaky: Seq[(String, Int)],
      sfDir: String): String = {
    val shorts = medians0.map { case (k, _) => shortName(k) }
    val medians =
      if (shorts.distinct.size == shorts.size)
        medians0.map { case (k, v) => shortName(k) -> v }
      else medians0
    def c2(v: Double): String = {
      val r =
        if (math.abs(v) < 10) math.rint(v * 100) / 100
        else math.rint(v * 10) / 10
      val s = java.math.BigDecimal.valueOf(r).stripTrailingZeros.toPlainString
      if (s == "-0") "0" else s
    }
    val qs = medians.map { case (k, m) =>
      "\"" + k + "\":" + m.fold("null")(c2)
    }.mkString("{", ",", "}")
    val err =
      if (errors.isEmpty) ""
      else errors.map { case (k, m) => "\"" + k + "\":\"" + m.take(60) + "\"" }
        .mkString(",\"errors\":{", ",", "}")
    val flk =
      if (flaky.isEmpty) ""
      else flaky.map { case (k, n) => "\"" + k + "\":" + n }
        .mkString(",\"flaky\":{", ",", "}")
    val sf = new java.io.File(sfDir).getName
    // The total always prints WITH a decimal point: round 16's total
    // happened to land on a whole number, c2 stripped it to "147", and
    // the driver's artifact parser — which had read every prior
    // decimal-bearing total fine — recorded parsed:null, erasing the
    // round-over-round comparison (VERDICT r17 #4/#8). Two characters
    // buy immunity from an integer-hostile "value" regex forever.
    val totalStr = { val s = c2(total); if (s.contains('.')) s else s + ".0" }
    s"""{"metric":"total","value":$totalStr,"unit":"sec","queries":$qs$err$flk,"sf":"$sf"}"""
  }
}
