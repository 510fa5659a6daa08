package graft

import graft.queries.Parity

/** Physical-plan shape assertions: the properties that matter at 100 TB
  * (scan pruning, filter pushdown, broadcast of dimensions) hold in the
  * plans Catalyst actually produces — not just in intent. */
class PlanSpec extends SparkSpec {
  private val dir = sf("sf0.001")

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("clicks filter is pushed down to the parquet scan") {
    val p = planOf(Parity.dailyClicks(spark, dir))
    assert(p.contains("PushedFilters") && p.contains("l_returnflag"),
      s"no pushed returnflag filter in plan:\n$p")
  }

  test("campaign totals reads only the needed columns (column pruning)") {
    val p = planOf(Parity.totals(spark, dir))
    // lineitem scan must not read l_extendedprice/l_discount etc.
    assert(!p.contains("l_extendedprice"), "scan reads unused columns")
  }

  test("advertiser dimension joins via broadcast") {
    val p = planOf(Parity.totals(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n$p")
  }

  test("daily counts aggregate the facts below the campaign join") {
    // The join runs at campaign-day grain, not fact grain.
    import org.apache.spark.sql.catalyst.plans.logical
    val st = Adtech.oltp(spark, dir)
    val plan = graft.jobs.InitialLoad.dailyCounts(st.campaign, st.impressions,
      "impressions").queryExecution.optimizedPlan
    val joins = plan.collect { case j: logical.Join => j }
    assert(joins.nonEmpty && joins.forall(_.left.collectFirst {
      case a: logical.Aggregate => a }.nonEmpty),
      s"a campaign join runs at fact grain:\n$plan")
  }

  test("changed-key diff compiles to a real anti join") {
    val p = planOf(Parity.deltaAntiJoin(spark, dir))
    assert(p.contains("LeftAnti"), s"no anti join in:\n$p")
  }

  test("recompute restriction compiles to a semi join") {
    val p = planOf(Parity.semiJoinRecompute(spark, dir))
    assert(p.contains("LeftSemi"), s"no semi join in:\n$p")
  }

  test("native dot_i64 appears in the ANN plan (not an interpreted fold)") {
    val p = planOf(graft.queries.Extensions.annCosineTopK(spark, dir))
    assert(p.contains("dot_i64"), s"dot_i64 missing from:\n$p")
  }

  private def scanCount(p: String, table: String): Int =
    s"$table\\.parquet".r.findAllIn(p).length

  test("daily CTR report reads the fact table exactly once (fused agg)") {
    val p = planOf(Parity.dailyCtrReport(spark, dir))
    assert(scanCount(p, "lineitem") == 1,
      s"expected 1 lineitem scan, got ${scanCount(p, "lineitem")}:\n$p")
  }

  test("stratified reservoir plans as an aggregate, not a per-lang window") {
    val p = planOf(graft.queries.Extensions.stratifiedReservoir(spark, dir))
    assert(!p.contains("WindowExec") && !p.contains("Window "),
      s"reservoir fell back to a window plan:\n$p")
    assert(p.toLowerCase.contains("aggregate"), s"no aggregate in:\n$p")
  }

  test("campaign ranking: data-grain windows partitioned, no RDD hop") {
    val df = Parity.campaignRanking(spark, dir)
    val p = planOf(df)
    // No rdd.zipWithIndex serde hop — the plan must stay in the DataFrame
    // API so whole-stage codegen survives.
    assert(!p.contains("ExistingRDD"), s"RDD scan in ranking plan:\n$p")
    // Unpartitioned windows may only run at HISTOGRAM grain (an Aggregate
    // somewhere below them); a data-grain window must carry a partition
    // spec or it serializes the frame through one reducer.
    import org.apache.spark.sql.catalyst.plans.logical
    val unpartitionedOverData = df.queryExecution.optimizedPlan.collect {
      case w: logical.Window if w.partitionSpec.isEmpty &&
          w.collectFirst { case a: logical.Aggregate => a }.isEmpty => w
    }
    assert(unpartitionedOverData.isEmpty,
      s"unpartitioned window directly over the data grain:\n$p")
  }

  test("event percentiles window over the histogram, not raw events") {
    // The window input must be the aggregated (type, cents) distribution:
    // a plan whose Window sits directly over the scan would re-introduce
    // the ≤|event types| reducer funnel.
    val df = Parity.eventPercentiles(spark, dir)
    val p = planOf(df)
    val windowIdx = p.indexOf("Window")
    val aggIdx = p.indexOf("HashAggregate")
    assert(windowIdx >= 0, s"no window in:\n$p")
    // At least one aggregate must appear BELOW the window in the plan tree
    // (toString prints parents first, so "below" = later in the string).
    assert(p.indexOf("HashAggregate", windowIdx) > windowIdx,
      s"window not fed by an aggregate:\n$p")
    assert(aggIdx >= 0)
  }

  test("TF-IDF broadcasts the per-language doc-count frame") {
    val p = planOf(graft.queries.Extensions.tfIdfTopTerms(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast in:\n$p")
  }

  test("set-op segmentation plans 2 fact scans, one conditional agg each") {
    // The literal except/intersect form planned FOUR aggregated scans of
    // lineitem with no exchange reuse; the conditional-agg evaluation
    // plans one per union branch with byte-identical exchanges (which
    // AQE's exchange reuse can further collapse at runtime).
    val p = planOf(Parity.setOpsSegments(spark, dir))
    assert(scanCount(p, "lineitem") == 2,
      s"expected 2 lineitem scans, got ${scanCount(p, "lineitem")}:\n$p")
    assert(!p.contains("LeftAnti") && !p.contains("LeftSemi"),
      "set ops should be evaluated via the flag aggregate, not re-derived joins")
  }

  test("semi-join recompute reads the facts once for its keys, plus the totals' scans") {
    // The live and stale keysets share one conditional-agg scan; the
    // recomputed side is q01's totals, whatever scans that derivation needs.
    val p = planOf(Parity.semiJoinRecompute(spark, dir))
    val probe = scanCount(planOf(Parity.totals(spark, dir)), "lineitem")
    assert(scanCount(p, "lineitem") == probe + 1,
      s"expected ${probe + 1} lineitem scans, got ${scanCount(p, "lineitem")}:\n$p")
  }

  test("simhash plan has no row-multiplying join") {
    val p = planOf(graft.queries.Extensions.dedupSimhash(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoopJoin"),
      s"row-multiplying join in simhash plan:\n$p")
  }

  test("d14's blocked Jaccard joins on the size bucket, no cross product") {
    val p = planOf(graft.queries.Extensions.dedupNgramJaccardBlocked(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoopJoin"),
      s"blocked Jaccard fell back to a row-multiplying join:\n$p")
    // The bucket key must be part of the equi-join (that IS the block):
    // 'blk' appears in a join condition, not only in the projection.
    assert(p.contains("blk"), s"size-bucket key absent from the plan:\n$p")
  }

  test("as-of join is one shuffle, not a range cross product") {
    val p = planOf(Parity.asofClickView(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoopJoin"),
      s"range join fell back to a cross product:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 shuffle, got $exchanges:\n$p")
  }

  test("terminal dedup pair source has no all-pairs shingle join") {
    // d02's quadratic generator joins two full shingle tables on
    // (shingle, lang) — a lang = lang equi-key is its unique fingerprint
    // (the banded LSH join keys on (band, signature); its verification
    // join keys on candidate doc ids). d06/d07/t13 consume lshPairs, so
    // pinning the pair source pins all three.
    val langEq = "lang#\\d+ = lang#\\d+".r
    val p = graft.queries.Extensions.lshPairs(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert(langEq.findFirstIn(p).isEmpty,
      s"all-pairs shingle-lang join in the candidate generator:\n$p")
  }

  test("t13's composed plan has no all-pairs shingle join") {
    val langEq = "lang#\\d+ = lang#\\d+".r
    val df = graft.queries.Extensions.corpusMaterialize(spark, dir)
    val p = df.queryExecution.optimizedPlan.toString
    assert(langEq.findFirstIn(p).isEmpty,
      s"all-pairs shingle-lang join in t13:\n$p")
  }

  test("d09's bloom pre-pass filters test grams below the exact join") {
    // The broadcast Bloom filter must sit UNDER the train⋈test equi-join
    // (filtering the test-side shuffle input), not above it — above, it
    // would filter already-verified hits and change results; below, it
    // only drops rows the join would reject anyway (no false negatives).
    val p = graft.queries.Extensions.contamination(spark, dir)
      .queryExecution.optimizedPlan
    val joinsAboveFilter = p.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.toString.contains("bloom_might_contain") => j
    }
    assert(joinsAboveFilter.nonEmpty,
      s"bloom_might_contain filter not present under the join:\n$p")
    val filterNodes = p.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if f.condition.toString.contains("bloom_might_contain") => f
    }
    assert(filterNodes.nonEmpty, s"no bloom filter node in the plan:\n$p")
  }

  test("t16's test-gram bloom filters train grams below the exact join") {
    // Same contract as d09's pin, with the sides flipped: the sketch is
    // built on the TEST grams (small side) and must filter the TRAIN
    // gram stream BELOW the train⋈test equi-join — below, it only drops
    // rows the join would reject anyway (no false negatives).
    val p = graft.queries.Extensions.corpusDecontaminated(spark, dir)
      .queryExecution.optimizedPlan
    val joinsAboveFilter = p.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.toString.contains("bloom_might_contain") => j
    }
    assert(joinsAboveFilter.nonEmpty,
      s"bloom_might_contain filter not present under a join:\n$p")
    val filterNodes = p.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if f.condition.toString.contains("bloom_might_contain") => f
    }
    assert(filterNodes.nonEmpty, s"no bloom filter node in the plan:\n$p")
  }

  test("d03's banded self-join reuses one exchange for both sides") {
    // The band-exploded signature table feeds both join sides; a refactor
    // that specializes the two branches (breaking canonical equality)
    // would silently double the heaviest shuffle. Pinned on the static
    // planner (AQE off) where ReuseExchange is decided at plan time.
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = planOf(graft.queries.Extensions.dedupMinhashLsh(spark, dir))
      assert(p.contains("ReusedExchange"),
        s"banded self-join does not reuse its exchange:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("s07 composes cell pruning below the prefix pass below the rerank") {
    // The production-ANN composition order, pinned structurally: the
    // exact-rerank window consumes candidates that already passed (a)
    // the cell equi-join (s03's candidate pruning) and (b) the prefix
    // top-100 filter computed on the 32-dim slice (s06's byte pruning).
    // A refactor that reranks cell candidates directly (dropping the
    // prefix pass) or prefix-scores the whole corpus (dropping the cell
    // join) breaks one of these pins.
    val df = graft.queries.Extensions.annIvfPrefix(spark, dir)
    val phys = planOf(df)
    assert(!phys.contains("CartesianProduct"),
      s"cartesian product in s07 plan:\n$phys")
    // Centroid assignment IS a broadcast cross against the √n centroid
    // table (the intended IVF shape, same as s03); any non-broadcast
    // nested-loop join would be the scale bug this pin watches for.
    val nlj = "(\\w*)NestedLoopJoin".r.findAllMatchIn(phys)
      .map(_.group(1)).toSeq
    assert(nlj.forall(_ == "Broadcast"),
      s"non-broadcast nested-loop join in s07 plan:\n$phys")
    val p = df.queryExecution.optimizedPlan.toString
    // After column pruning the quantized column inlines, so the prefix
    // projection prints as slice(transform(embedding, ...), 1, 32).
    assert(p.contains("slice("), s"prefix pass not computed on a slice:\n$p")
    assert("cell#\\d+L? = cell#\\d+L?".r.findFirstIn(p).isDefined,
      s"no cell equi-join (candidate pruning) in:\n$p")
    // The prefix top-100 is the native map-side min_k_longs aggregation
    // over the prefix score (round 17: the per-query window became the
    // TypedImperativeAggregate — the pcos-keyed aggregate IS the
    // byte-pruning selection, and it partial-aggregates map-side where
    // the window funneled |Q|·cell-candidate rows into ≤|Q| reducers).
    assert(p.contains("min_k_longs") && p.contains("pcos#"),
      s"no prefix top-100 aggregation (byte pruning) in:\n$p")
    // Plan strings print parents first: the rerank's rank selection must
    // sit ABOVE the prefix selection, ABOVE the cell join.
    val (rankAt, prnAt, cellAt) =
      (p.indexOf("rank#"), p.indexOf("pcos#"), "cell#\\d+L? = cell#\\d+L?".r
        .findFirstMatchIn(p).map(_.start).getOrElse(-1))
    assert(rankAt >= 0 && rankAt < prnAt && prnAt < cellAt,
      s"composition order broken (rank@$rankAt pcos@$prnAt cell@$cellAt):\n$p")
  }

  test("s11's label filter prunes candidates below the exact rerank") {
    // Filtered ANN's cost claim: label equality is applied at CANDIDATE
    // grain, so full-width dot products run only on same-label
    // survivors. A refactor that reranks first and filters after both
    // breaks top-k semantics (k survivors of an unfiltered top-k ≠
    // top-k of the filtered set) and wastes the rerank on cross-label
    // candidates.
    val df = graft.queries.Extensions.annIvfFiltered(spark, dir)
    val phys = planOf(df)
    assert(!phys.contains("CartesianProduct"),
      s"cartesian product in s11 plan:\n$phys")
    val nlj = "(\\w*)NestedLoopJoin".r.findAllMatchIn(phys)
      .map(_.group(1)).toSeq
    assert(nlj.forall(_ == "Broadcast"),
      s"non-broadcast nested-loop join in s11 plan:\n$phys")
    val p = df.queryExecution.optimizedPlan.toString
    val labelEq = "n_label#\\d+ = q_label#\\d+".r.findFirstMatchIn(p)
    assert(labelEq.isDefined, s"no label equality in s11 plan:\n$p")
    // Parents print first: the rerank's rank window must sit ABOVE the
    // label condition (the filter is below the expensive pass).
    val rankAt = p.indexOf("rank#")
    assert(rankAt >= 0 && rankAt < labelEq.get.start,
      s"label filter not below the rerank (rank@$rankAt " +
        s"label@${labelEq.get.start}):\n$p")
  }

  test("t20's successor pairing is window-free; the model joins by broadcast") {
    // The LM scorer's two scale hazards, pinned: successor pairing must
    // be ROW-LOCAL (adjacency is explicit in the token array index — a
    // window, even doc-partitioned, pays an exchange + per-doc sort
    // just to recover it; a global window would be worse still), and
    // the Zipfian-vocabulary model table must come back by broadcast,
    // not a corpus shuffle.
    val p = planOf(graft.queries.Extensions.bigramLmScore(spark, dir))
    assert(!p.contains("windowspecdefinition"),
      s"successor pairing regressed to a window:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"bigram model not broadcast back:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoopJoin"),
      s"row-multiplying join in t20 plan:\n$p")
  }

  test("s13's exact rerank sits above the SQ8 top-100 filter") {
    // The bits-per-dimension claim: full-width exact dots run ONLY on
    // the top-100 survivors of the code-frame coarse pass. A refactor
    // that reranks everything (dropping the arn filter) or computes the
    // exact dot in the coarse pass (reading full vectors corpus-wide)
    // breaks the pin.
    val df = graft.queries.Extensions.annSq8(spark, dir)
    val phys = planOf(df)
    assert(!phys.contains("CartesianProduct"),
      s"cartesian product in s13 plan:\n$phys")
    // The 10-query-row coarse join is the intended broadcast NLJ; any
    // non-broadcast nested loop would be the scale bug.
    val nlj = "(\\w*)NestedLoopJoin".r.findAllMatchIn(phys)
      .map(_.group(1)).toSeq
    assert(nlj.forall(_ == "Broadcast"),
      s"non-broadcast nested-loop join in s13 plan:\n$phys")
    val p = df.queryExecution.optimizedPlan.toString
    // The coarse top-100 is the native map-side min_k_longs aggregation
    // over the code score (round 17: the per-query window became the
    // TypedImperativeAggregate); `acos` exists only in the coarse pass,
    // so its position anchors the composition order.
    assert(p.contains("min_k_longs") && p.contains("acos#"),
      s"no SQ8 top-100 candidate selection in:\n$p")
    val (rankAt, arnAt) = (p.indexOf("rank#"), p.indexOf("acos#"))
    assert(rankAt >= 0 && rankAt < arnAt,
      s"rerank not above the SQ8 selection (rank@$rankAt acos@$arnAt):\n$p")
  }

  test("s14's Lloyd iterations broadcast the centroid side only") {
    // The training-cost claim: each assignment round is a broadcast
    // map over the corpus (n·k dots with k = √n centroids on the
    // broadcast side) — never a data×data cartesian or a shuffle join
    // at corpus×centroid grain.
    val phys = planOf(graft.queries.Extensions.kmeansRefine(spark, dir))
    assert(!phys.contains("CartesianProduct"),
      s"cartesian product in s14 plan:\n$phys")
    val nlj = "(\\w*)NestedLoopJoin".r.findAllMatchIn(phys)
      .map(_.group(1)).toSeq
    assert(nlj.nonEmpty && nlj.forall(_ == "Broadcast"),
      s"non-broadcast assignment join in s14 plan:\n$phys")
    // both Lloyd rounds assign by broadcast
    assert(nlj.size == 2, s"expected 2 broadcast assignment rounds:\n$phys")
  }

  test("t24's sample windows per cell, never a global sort") {
    val df = graft.queries.Extensions.clusterSample(spark, dir)
    val phys = planOf(df)
    val nlj = "(\\w*)NestedLoopJoin".r.findAllMatchIn(phys)
      .map(_.group(1)).toSeq
    assert(nlj.forall(_ == "Broadcast"),
      s"non-broadcast assignment join in t24 plan:\n$phys")
    // the rank window partitions by cell — cell-sized partitions, not a
    // single global ordering
    assert(phys.contains("hashpartitioning(cell"),
      s"sample window not partitioned by cell:\n$phys")
  }

  test("s16's query-side tokenization is pruned to the query docs") {
    // The serving-cost claim: the lexical ranker's QUERY side must
    // tokenize only the 10 query documents — the doc_id < 10 predicate
    // has to reach a parquet scan (below the tf aggregation), not
    // filter after corpus-wide tokenization. The only nested loops are
    // the broadcast scalar joins (the N-docs frame).
    val phys = planOf(graft.queries.Extensions.hybridRrf(spark, dir))
    assert("PushedFilters:[^\\]]*LessThan\\(doc_id,10\\)".r
      .findFirstIn(phys).isDefined,
      s"query-doc filter not pushed to a documents scan:\n$phys")
    assert(!phys.contains("CartesianProduct"),
      s"cartesian product in s16 plan:\n$phys")
    val nlj = "(\\w*)NestedLoopJoin".r.findAllMatchIn(phys)
      .map(_.group(1)).toSeq
    assert(nlj.forall(_ == "Broadcast"),
      s"non-broadcast nested-loop join in s16 plan:\n$phys")
  }

  test("t21's novelty plan is agg+join only — no window, no pair join") {
    // The scale claim: first-seen is a hash agg keyed on shingle joined
    // back at shingle grain — never a corpus-ordered window (which
    // would serialize the shingle stream) and never a doc-pair join
    // (which would be d02's quadratic class).
    val df = graft.queries.Extensions.ngramNovelty(spark, dir)
    val p = planOf(df)
    assert(!p.contains("Window"), s"window in t21 plan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoopJoin"),
      s"row-multiplying join in t21 plan:\n$p")
    assert(p.contains("hashpartitioning(shingle"),
      s"first-seen agg not keyed on shingle:\n$p")
  }

  test("s12's index scan is partition-pruned and label rides the index rows") {
    // Filtered index serving: the candidate pass must read ONLY probed
    // cells (dynamic partition pruning on the hive `cell` column, s08's
    // pin) and resolve the label from the index row itself — a plan
    // that joins a corpus-grain label frame at query time re-introduces
    // the scan the index exists to avoid.
    val df = graft.queries.Extensions.annIvfFilteredIndexed(spark, dir)
    val p = planOf(df)
    assert(p.contains("dynamicpruning") || p.contains("PartitionFilters: [isnotnull(cell"),
      s"index scan not partition-pruned by probe cells:\n$p")
    // Corpus-GRAIN embeddings scans (no pushed vec_id<10 query-side
    // predicate): exactly one — the rerank's full-vector key-join
    // fetch. A second would be the corpus-grain label join the
    // index-resident metadata exists to avoid; query-side scans are
    // pruned to the 10 query rows and don't count.
    val corpusScans = p.split("FileScan").count(c =>
      c.contains("embeddings.parquet") && !c.contains("LessThan(vec_id,10)"))
    assert(corpusScans <= 1,
      s"filtered serving reads the corpus $corpusScans times — label not " +
        s"served from the index:\n$p")
  }

  test("m05's incremental probe is banded and delta-sided — no all-pairs") {
    // The ingest-cycle cost claim: only the new-batch side of the probe
    // is filtered to the delta (the probe stays new×all, never
    // all×all), candidates come from the (band, block) equi-join, and
    // nothing row-multiplying appears beyond the broadcast of the
    // one-row cutoff.
    val p = planOf(graft.queries.Extensions.phashIncremental(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"cartesian product in m05 plan:\n$p")
    val nlj = "(\\w*)NestedLoopJoin".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(nlj.forall(_ == "Broadcast"),
      s"non-broadcast nested-loop join in m05 plan:\n$p")
    assert(p.contains("partial_sum") && p.contains("shiftright(h0#"),
      s"bit-sum hash aggregation missing from m05 plan:\n$p")
  }

  test("m04's fingerprint pairing is banded — no all-pairs, one window agg") {
    // The media-fingerprint pair join must stay in d12's cost class:
    // candidates from the (band, 16-bit block) self-join, never a
    // row-multiplying product, and the 64 signed bit-sums come out of
    // ONE hash aggregation over the window rows.
    val df = graft.queries.Extensions.mediaPhashPairs(spark, dir)
    val p = planOf(df)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoopJoin"),
      s"row-multiplying join in m04 plan:\n$p")
    // The signed bit-sums must be HASH-AGGREGATED with a map-side
    // partial (the d04 shape); the 64 columns print truncated
    // ("... 39 more fields"), so pin the visible partial_sum over the
    // shifted window hash instead of the s63 alias.
    assert(p.contains("partial_sum") && p.contains("shiftright(h0#"),
      s"bit-sum hash aggregation missing from m04 plan:\n$p")
  }

  test("json extraction prunes the events scan to the used columns") {
    val p = planOf(Parity.jsonProps(spark, dir))
    assert(!p.contains("user_id"), s"events scan reads unused columns:\n$p")
  }

  test("s08's index scan is partition-pruned by the probe cells") {
    // The materialized-index contract at 100 TB: an ANN query opens only
    // the probed cells' files. The probe→index join is on the index's
    // hive partition column, so Catalyst must plan the index scan with a
    // dynamic partition-pruning filter (probe cells aren't literals —
    // they come from the query vectors — so DPP, not static pruning, is
    // the correct mechanism). A full-index scan here is the exact
    // linear-work bug the stored index exists to remove.
    val df = graft.queries.Extensions.annIvfIndexed(spark, dir)
    val p = planOf(df)
    val idxScans = p.linesIterator
      .filter(l => l.contains("graft-annidx") && l.contains("FileScan") &&
        !l.contains("_quantizer"))
      .toSeq
    assert(idxScans.nonEmpty, s"no index FileScan in plan:\n$p")
    assert(idxScans.forall(l => l.contains("dynamicpruning")),
      s"index scan not partition-pruned (no dynamicpruning expression " +
        s"on its PartitionFilters):\n${idxScans.mkString("\n")}")
  }

  test("s17's index scan is partition-pruned and the corpus is read once") {
    // Index-resident SQ8: the coarse pass must read ONLY the probed
    // cells' files (DPP on the hive `cell` column, s08's pin) and score
    // STORED codes — corpus-grain embeddings scans (no pushed vec_id<10
    // query-side predicate) are limited to the single exact-rerank
    // key-join fetch. A second corpus-grain scan would be s15's
    // per-query code recomputation, the exact work s17 exists to store.
    val df = graft.queries.Extensions.annIvfSq8Indexed(spark, dir)
    val p = planOf(df)
    val idxScans = p.linesIterator
      .filter(l => l.contains("graft-annidx") && l.contains("FileScan") &&
        !l.contains("_quantizer") && !l.contains("_sq8"))
      .toSeq
    assert(idxScans.nonEmpty, s"no index FileScan in plan:\n$p")
    assert(idxScans.forall(l => l.contains("dynamicpruning")),
      s"index scan not partition-pruned (no dynamicpruning expression " +
        s"on its PartitionFilters):\n${idxScans.mkString("\n")}")
    val corpusScans = p.split("FileScan").count(c =>
      c.contains("embeddings.parquet") && !c.contains("LessThan(vec_id,10)"))
    assert(corpusScans <= 1,
      s"s17 reads the corpus $corpusScans times — codes not served " +
        s"from the index:\n$p")
  }

  test("s21's index scan is partition-pruned and the corpus is read once") {
    // Index-resident PQ: candidates must come from partition-pruned
    // thin (cell, vec_id, pq, spq) rows scored via the broadcast ADC
    // lookup table — the only corpus-grain embeddings scan is the
    // exact rerank's key-join fetch (a second would be s20's
    // per-invocation code recomputation, the work s21 stores away).
    val df = graft.queries.Extensions.annIvfPqIndexed(spark, dir)
    val p = planOf(df)
    val idxScans = p.linesIterator
      .filter(l => l.contains("graft-annidx") && l.contains("FileScan") &&
        !l.contains("_quantizer") && !l.contains("_sq8") &&
        !l.contains("_pq"))
      .toSeq
    assert(idxScans.nonEmpty, s"no index FileScan in plan:\n$p")
    assert(idxScans.forall(l => l.contains("dynamicpruning")),
      s"index scan not partition-pruned:\n${idxScans.mkString("\n")}")
    val corpusScans = p.split("FileScan").count(c =>
      c.contains("embeddings.parquet") && !c.contains("LessThan(vec_id,10)"))
    assert(corpusScans <= 1,
      s"s21 reads the corpus $corpusScans times — codes not served " +
        s"from the index:\n$p")
  }

  test("s20's codebook joins broadcast; nothing falls back to a cartesian") {
    // PQ assignment joins each subvector row against the ≈256-entry
    // broadcast codebook on `sub`; the ADC pass joins codes against the
    // broadcast query LUT. Neither may plan a CartesianProduct, and any
    // nested-loop join must be a broadcast one (the 4-key `sub` join).
    val p = planOf(graft.queries.Extensions.annPq(spark, dir))
    assert(!p.contains("CartesianProduct"), s"cartesian in s20 plan:\n$p")
    val nlj = "(\\w*)NestedLoopJoin".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(nlj.forall(_ == "Broadcast"),
      s"non-broadcast nested-loop join in s20 plan:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"s20 has no broadcast codebook join:\n$p")
  }

  test("t17 scrubs boilerplate with hash aggs only — no window, no pairwise join") {
    // The CCNet-shape scrub must stay in d01's cost class: document
    // frequency is ONE hash aggregation by segment, the flag-back is a
    // segment-keyed equi-join — never a corpus-grain window (the
    // single-reducer trap) or anything pairwise.
    val p = planOf(graft.queries.Extensions.boilerplateScrub(spark, dir))
    assert(!p.contains("Window"), s"t17 plans a window:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"t17 plans a non-equi join:\n$p")
  }

  test("t19 reassembles scrubbed text without a window or pairwise join") {
    // The transform must stay in t17's cost class: reassembly is a
    // per-doc collect_list inside the hash aggregation (array_sort is
    // row-local) — never a corpus-grain window sorting segments, and
    // nothing pairwise.
    val p = planOf(graft.queries.Extensions.scrubbedCorpus(spark, dir))
    assert(!p.contains("Window"), s"t19 plans a window:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"t19 plans a non-equi join:\n$p")
  }

  test("t18 joins its |langs|-row rate table by broadcast only") {
    // The mixture rates are |langs| rows; joining them back onto the
    // corpus must broadcast — a sort-merge join here would shuffle the
    // whole corpus on lang (skew-prone: language distributions are
    // Zipfian) for a dimension that fits in one message.
    val p = planOf(graft.queries.Extensions.tokenBudgetMix(spark, dir))
    assert(!p.contains("SortMergeJoin"), s"t18 shuffles a corpus join:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"t18 has no broadcast join:\n$p")
  }

  test("s10 scores against broadcast sum vectors — no non-equi join") {
    // The per-lang centroid-direction table is |langs| array rows; it
    // must come back onto the corpus as a broadcast hash join (the only
    // corpus-grain shuffle allowed is the standard docs⋈embeddings id
    // join), and nothing in the plan may fall back to a nested loop.
    val p = planOf(graft.queries.Extensions.centroidOutliers(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"s10 has no broadcast join:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"s10 plans a non-equi join:\n$p")
  }

  test("s09 reads the stored assignment: no quantizer join in its plan") {
    // s05's one deliberate non-equi join is the broadcast quantizer
    // cross join that re-assigns the corpus per invocation; s09 exists
    // to remove exactly that work, so its plan must contain NO
    // nested-loop join at all — candidates come from an equi self-join
    // of the index's stored (cell, vec_id) rows, verification from key
    // joins. (s08 keeps one legitimate broadcast NLJ: scoring the 10
    // query vectors against the sidecar centroids.)
    val p = planOf(graft.queries.Extensions.semdedupIndexed(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoopJoin"),
      s"s09 re-derives assignment (nested-loop quantizer join):\n$p")
    assert(p.linesIterator.exists(l =>
      l.contains("graft-annidx") && l.contains("FileScan")),
      s"s09 does not read the stored index:\n$p")
  }

  test("t27 reads the stored assignment: no quantizer join in its plan") {
    // The s09 contract at the hard-negative miner's grain: t26's one
    // deliberate non-equi join is the broadcast quantizer cross join
    // (corpus-wide cell assignment per invocation); the indexed twin
    // replaces it with the stored (cell, vec_id) membership rows, so
    // its plan must contain NO nested-loop join and must scan the
    // stored index.
    val p = planOf(graft.queries.Extensions.hardNegativesIndexed(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoopJoin"),
      s"t27 re-derives assignment (nested-loop quantizer join):\n$p")
    assert(p.linesIterator.exists(l =>
      l.contains("graft-annidx") && l.contains("FileScan")),
      s"t27 does not read the stored index:\n$p")
  }

  test("q35's range join is an equi-join on (user, bucket) — no nested loop") {
    // The naive BETWEEN join (the oracle's form) plans as a broadcast
    // nested-loop: |errors| × |events| comparisons per user. The bucket
    // decomposition exists to replace that with a hash-joinable key; if
    // a regression lets the non-equi predicate back into the join
    // condition, this pin catches the plan-shape change.
    val p = planOf(Parity.rangeJoinBucketed(spark, dir))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"q35 plans the pairwise nested loop the bucketing exists to avoid:\n$p")
    assert(p.contains("Join") && (p.contains("user_id") && p.contains("bkt")),
      s"q35 lost its (user_id, bkt) equi-join:\n$p")
  }

  test("q36's overlap join is bucket-equi-joined — no nested loop, no distinct") {
    // The naive interval-overlap self-join (the oracle's form) carries
    // two range predicates and no equality — a nested loop over
    // |sessions|². The bucket decomposition makes it hash-joinable, and
    // the bucket-ownership rule replaces the candidate distinct with a
    // row-local predicate — so the plan must contain neither a
    // nested-loop join nor a dedup aggregate over the pair stream.
    val p = planOf(Parity.sessionOverlaps(spark, dir))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"q36 plans the pairwise nested loop the bucketing exists to avoid:\n$p")
    assert(p.contains("Join") && p.contains("bkt"),
      s"q36 lost its bucket equi-join:\n$p")
  }

  test("t40's composed pipeline plan: no cartesian, no unbounded nested loop") {
    // The end-to-end curation manifest composes five operator families
    // in ONE plan. The pin: nothing pairwise survives the composition —
    // no CartesianProduct anywhere, and every BroadcastNestedLoopJoin
    // is one of the component operators' sanctioned SCALAR broadcasts
    // (dsirKeepTop's ≤1-row n_keep / boundary frames): broadcast-build
    // Cross shape, bounded count (the boundary subtree instantiates
    // once per broadcast reference — 9 today: the packer's two-level
    // prefix sum plants a third static copy of the gate chain under
    // its superblock leg (runtime-deduped by ReuseExchange — the block
    // aggregate's exchange is identical in both levels), each copy
    // carrying dsirKeepTop's 3 scalars; the tripwire catches a
    // data×data loop sneaking in, which would also break the shape
    // assertion since inequality joins carry non-Cross types).
    val p = planOf(graft.queries.Extensions.curationManifest(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"t40 plans a cartesian product:\n$p")
    val bnljLines = p.linesIterator
      .filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnljLines.forall(_.contains("BuildRight, Cross")),
      s"t40 has a non-scalar nested-loop join:\n${bnljLines.mkString("\n")}")
    assert(bnljLines.size <= 9,
      s"t40 has ${bnljLines.size} nested-loop joins — more than the " +
        s"composed operators' sanctioned scalar broadcasts:\n$p")
  }

  test("t34 joins its per-word subword counts by broadcast only") {
    // The fold runs over DISTINCT words (Heaps-law small); occurrences
    // take the counts back via broadcast — a sort-merge join here would
    // shuffle the whole token stream on the Zipfian word key. The merge
    // list itself is driver-side config (collected, ~rounds rows), so
    // no corpus-grain work depends on it.
    val p = planOf(graft.queries.Extensions.bpeTokensStored(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"t34 has no broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"t34 shuffles the token stream on the word key:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"t34 plans a non-equi join:\n$p")
  }

  test("t35 packs in subword truth: broadcast joins only, doc window at blk grain") {
    // t28's packer contract must survive the BPE composition: the only
    // unpartitioned window runs at BLOCK grain (n/4096 rows — the top
    // level of the two-level prefix sum), the doc-grain window is
    // partitioned by blk, the block offsets and per-word counts come
    // back by broadcast, and nothing falls back to a shuffle or
    // non-equi join.
    val p = planOf(graft.queries.Extensions.bpePacks(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"t35 has no broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"t35 shuffles a corpus-grain join:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"t35 plans a non-equi join:\n$p")
    val docGrainWindows = p.linesIterator.count(l =>
      l.contains("Window") && l.contains("doc_id"))
    val partitionedByBlk = p.linesIterator.count(l =>
      l.contains("Window") && l.contains("doc_id") && l.contains("[blk"))
    assert(docGrainWindows == partitionedByBlk,
      s"t35 has a doc-grain window not partitioned by blk:\n$p")
  }
}
