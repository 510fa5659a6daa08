package graft

import org.scalatest.funsuite.AnyFunSuite

/** The prior-round parser feeding Bench's sampling-width rule. The
  * driver's per-round artifact wraps the bench's own JSON line inside a
  * JSON string field, escaping every quote — a parser anchored on the
  * raw `"queries":{` silently returns empty on it, and an empty prior
  * map downgrades the widen rule to the current-median gate (exactly
  * the gate that misses drifted queries). Both shapes must parse. */
class BenchSpec extends AnyFunSuite {

  test("parses the raw bench line") {
    val line = """{"metric":"total","value":6.0,"unit":"sec","queries":{"q01":1.25,"d10":1.53},"mins":{"q01":1.1,"d10":1.4},"sf":"x"}"""
    assert(Bench.parsePrior(line) == Map("q01" -> 1.25, "d10" -> 1.53))
    // A pretty-printed artifact (": " separators) parses the same.
    assert(Bench.parsePrior("""{"queries": {"q01": 1.25, "d10": 1.53}}""") ==
      Map("q01" -> 1.25, "d10" -> 1.53))
  }

  test("parses the driver-wrapped (escaped) artifact shape") {
    val wrapped =
      """{
        |  "n": 5,
        |  "rc": 0,
        |  "tail": "ric\":\"total\",\"value\":77.2,\"unit\":\"sec\",\"queries\":{\"q01_campaign_totals\":1.13,\"d10_dedup_incremental\":1.53},\"sf\":\"/root/testdata/sf0.1\"}",
        |  "parsed": null
        |}""".stripMargin
    assert(Bench.parsePrior(wrapped) ==
      Map("q01_campaign_totals" -> 1.13, "d10_dedup_incremental" -> 1.53))
  }

  test("empty / garbage input yields an empty prior (widen falls back)") {
    assert(Bench.parsePrior("") == Map.empty[String, Double])
    assert(Bench.parsePrior("{\"n\": 4}") == Map.empty[String, Double])
  }

  test("takes the FIRST queries object, not the mins/iters maps") {
    val line = """{"queries":{"a":2.0},"mins":{"a":1.0},"iters":{"a":7}}"""
    assert(Bench.parsePrior(line) == Map("a" -> 2.0))
  }

  test("the compare pass reads the prior MINS map, raw and driver-wrapped") {
    val line = """{"queries":{"a":2.0},"mins":{"a":1.0,"b":0.4},"iters":{"a":7}}"""
    assert(Bench.parsePriorKey(line, "mins") == Map("a" -> 1.0, "b" -> 0.4))
    val wrapped =
      """{"tail": "\"queries\":{\"a\":2.0},\"mins\":{\"a\":1.1},\"sf\":\"x\"}"}"""
    assert(Bench.parsePriorKey(wrapped, "mins") == Map("a" -> 1.1))
    assert(Bench.parsePriorKey("{\"n\":1}", "mins").isEmpty)
  }

  test("compare pass skips a prior artifact at a different scale factor") {
    val line = """{"queries":{"a":2.0},"mins":{"a":1.0},"sf":"/root/testdata/sf0.1"}"""
    assert(Bench.parsePriorSf(line).contains("sf0.1"))
    val dir = java.nio.file.Files.createTempDirectory("graft-bench").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "BENCH_LOCAL.json"), line)
    assert(Bench.priorTimes(dir, "mins", sf = "/td/sf0.1") ==
      Map("a" -> 1.0))
    assert(Bench.priorTimes(dir, "mins", sf = "/td/sf0.001").isEmpty)
  }

  test("regression verdicts: host drift absolves, residual cost convicts") {
    // 1.4x raw but the whole suite moved 1.3x too -> host.
    assert(Bench.regressionVerdict(1.4 / 1.3) == "host")
    // 2x raw against a flat suite -> suspect, sent to the same-host A/B.
    assert(Bench.regressionVerdict(2.0) == "suspect")
    // Exactly at the band edge stays host (no false alarm on noise).
    assert(Bench.regressionVerdict(1.15) == "host")
  }

  test("a cross-host prior can NEVER yield a real verdict") {
    // Round 14: eight "real" flags on untouched code, every prior min
    // from a different machine. The compare pass cannot prove where a
    // prior came from, so it never convicts: an over-band ratio is a
    // suspect, and the artifact names the same-host A/B that settles it.
    for (r <- Seq(1.1, 1.16, 2.0, 50.0))
      assert(Bench.regressionVerdict(r) != "real")
    assert(Bench.adjudicator(Seq("q01_campaign_totals", "d03_x")).contains(
      "tools/ab_bench.sh <prior-ref> q01_campaign_totals,d03_x"))
    // In-band ratios leave nothing to adjudicate.
    assert(Bench.adjudicator(Nil).isEmpty)
  }

  // --- round-7 layout: the final stdout line must survive the driver's
  // tail-window capture WHOLE, and BENCH_LOCAL.json is the preferred,
  // truncation-immune prior. ---

  /** The real registered names at the widest value c2 emits for any
    * sane local runtime: "9.99" and "99.9" are both 4 chars (the
    * adaptive precision caps value width at 4 up to 999.9 s/query). */
  private def worstCaseLine: String =
    Bench.stdoutLine(
      total = 999.9,
      medians0 = SparkEntry.specs.zipWithIndex.map { case (s, i) =>
        s.name -> Some(if (i % 2 == 0) 9.99 else 99.94)
      },
      errors = Nil, flaky = Nil,
      sfDir = "/x/sf0.1")

  test("short query keys are unique across the real registry") {
    // The stdout line keys medians by the operator id prefix; a
    // collision would silently drop a median from the map (stdoutLine
    // falls back to full names, which round 6 proved overflow the tail
    // window at this registry size — so a collision must be renamed,
    // not papered over).
    val shorts = SparkEntry.specs.map(s => Bench.shortName(s.name))
    assert(shorts.distinct.size == shorts.size,
      s"colliding short query keys: ${shorts.diff(shorts.distinct)}")
  }

  test("final stdout line fits the driver tail window for the REAL registry") {
    val line = worstCaseLine
    // Hard bound plus explicit headroom: at ~11 chars per short-keyed
    // entry there must be room for dozens of future queries before
    // this pin forces the layout to shrink again. (Headroom 400: the
    // 120-query registry consumes ~1400 of the 2000-char window; 400
    // still covers ~35 more queries.)
    assert(line.length < Bench.TailWindow - 400,
      s"stdout line ${line.length} chars >= ${Bench.TailWindow - 400}: the " +
        "median map is at risk of being sliced by the driver capture")
    // and it still carries every median, under its short key
    assert(Bench.parsePrior(line).keySet ==
      SparkEntry.specs.map(s => Bench.shortName(s.name)).toSet)
  }

  test("all medians survive a driver-style wrap + 2000-char tail truncation") {
    val line = worstCaseLine
    // The driver keeps the LAST TailWindow chars of stdout (an earlier
    // diagnostics line may precede the final line), escapes quotes, and
    // embeds them in a "tail" string field.
    val stdout = "{\"mins\":{\"x\":1.0}}\n" + line + "\n"
    val tail = stdout.takeRight(Bench.TailWindow)
    val wrapped =
      s"""{"n": 7, "rc": 0, "tail": "${tail.replace("\"", "\\\"").replace("\n", " ")}", "parsed": null}"""
    assert(Bench.parsePrior(wrapped).keySet ==
      SparkEntry.specs.map(s => Bench.shortName(s.name)).toSet)
  }

  test("widen lookup accepts a short-keyed prior artifact") {
    // A driver-captured prior keys by short name; the widen rule must
    // still find the query's prior by its full registry name.
    val prior = Bench.parsePrior("""{"queries":{"q01":2.5,"d03":0.4}}""")
    assert(prior.get("q01_campaign_totals").isEmpty) // full-name miss...
    assert(prior.get(Bench.shortName("q01_campaign_totals"))
      .contains(2.5))                                // ...short-name hit
  }

  test("compact medians keep centisecond precision and strip zeros") {
    val line = Bench.stdoutLine(1.5,
      Seq("a" -> Some(0.279), "b" -> Some(1.5), "c" -> Some(12.0)),
      Nil, Nil, "/x/sf0.1")
    assert(line.contains("\"a\":0.28"))
    assert(line.contains("\"b\":1.5"))
    assert(line.contains("\"c\":12"))
    assert(!line.contains("errors") && !line.contains("flaky"))
    assert(line.contains("\"sf\":\"sf0.1\""))
    val withErr = Bench.stdoutLine(1.5, Seq("a" -> Some(1.0)),
      Seq("b" -> "boom"), Seq("c" -> 2), "/x/sf0.1")
    assert(withErr.contains("\"errors\":{\"b\":\"boom\"}"))
    assert(withErr.contains("\"flaky\":{\"c\":2}"))
  }

  test("the total always prints with a decimal point") {
    // Round 16's total landed on a whole number, c2 stripped it to
    // "147", and the driver's parser recorded parsed:null — erasing
    // the round-over-round comparison (VERDICT r17 #4). The contract
    // line's "value" must never be a bare integer.
    val line = Bench.stdoutLine(147.0, Seq("a" -> Some(147.0)),
      Nil, Nil, "/x/sf0.1")
    assert(line.contains("\"value\":147.0,"))
    // whereas a fractional total is untouched
    val line2 = Bench.stdoutLine(100.6, Seq("a" -> Some(100.6)),
      Nil, Nil, "/x/sf0.1")
    assert(line2.contains("\"value\":100.6,"))
  }

  test("an errored query carries null, never a numeric sentinel") {
    // Round 7: negated-sentinel medians let a 7-query-short total read
    // as a speedup, and downstream parsers could sum the negatives.
    val line = Bench.stdoutLine(1.0,
      Seq("a" -> Some(1.0), "q15_event_day_windows" -> None),
      Seq("q15_event_day_windows" -> "DATATYPE_MISMATCH"), Nil, "/x/sf0.1")
    assert(line.contains("\"q15\":null"))
    assert(!line.contains("-"))
    // and the prior-round parser skips it rather than recording a bogus
    // prior median for the widen rule
    assert(Bench.parsePrior(line) == Map("a" -> 1.0))
  }

  test("priorTimes prefers BENCH_LOCAL.json over the driver artifact") {
    val dir = java.nio.file.Files.createTempDirectory("benchspec").toFile
    def put(name: String, body: String): Unit =
      java.nio.file.Files.write(new java.io.File(dir, name).toPath,
        body.getBytes("UTF-8"))
    put("BENCH_r98.json", """{"tail": "\"queries\":{\"a\":9.0}", "parsed": null}""")
    put("BENCH_LOCAL.json", """{"metric":"total","value":1,"unit":"sec","queries":{"a":1.25,"b":0.5},"mins":{"a":1.1},"sf":"x"}""")
    assert(Bench.priorTimes(dir.getPath) == Map("a" -> 1.25, "b" -> 0.5))
    // a corrupt/empty local file must NOT mask the driver artifact
    put("BENCH_LOCAL.json", "not json at all")
    assert(Bench.priorTimes(dir.getPath) == Map("a" -> 9.0))
  }

  test("widen rule fires on prior-sub-second, got-faster, and drift") {
    assert(Bench.widenRule(Some(0.5), 0.6))   // prior sub-second
    assert(Bench.widenRule(Some(2.0), 0.7))   // got faster: now noise-dominated
    assert(Bench.widenRule(Some(2.0), 3.5))   // drift: >1.5x prior
    assert(!Bench.widenRule(Some(2.0), 2.2))  // steady multi-second: base iters
    assert(Bench.widenRule(None, 0.8))        // no prior: current-median gate
    assert(!Bench.widenRule(None, 1.8))
  }
}
