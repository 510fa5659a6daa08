package graft

import graft.jobs.{InitialLoad, Reports}
import graft.queries.{Extensions, Parity}
import org.apache.spark.sql.functions._

/** Cross-query invariants on the sf0.001 fixture (the DuckDB oracle gate is
  * the primary correctness check; these pin internal consistency). */
class QueriesSpec extends SparkSpec {
  private val dir = sf("sf0.001")

  test("entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every registered query runs and every oracle key exists") {
    assert(SparkEntry.queries.keySet == SparkEntry.specs.map(_.name).toSet)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("daily impressions sum to lifetime totals (A1 vs A2)") {
    val totals = Parity.totals(spark, dir)
      .select(col("rtm_campaign_id"), col("campaign_impressions_count_total"))
    val sums = Parity.dailyImpressions(spark, dir)
      .groupBy("rtm_campaign_id")
      .agg(sum("campaign_impressions_daily_count").as("s"))
    val bad = totals.join(sums, Seq("rtm_campaign_id"), "left")
      .filter(coalesce(col("s"), lit(0L)) =!= col("campaign_impressions_count_total"))
    assert(bad.count() == 0)
  }

  test("jobs' daily CTR report over raw daily counts has exactly q05's rows") {
    // q05 keeps its fused one-scan form; this pins the ETL's report path
    // to it, so the oracle's check of q05 covers Reports.dailyCtrReport.
    val st = Adtech.oltp(spark, dir)
    val days = InitialLoad.dailyCounts(st.campaign, st.impressions, "impressions")
      .unionByName(InitialLoad.dailyCounts(st.campaign, st.clicks, "clicks"))
    val jobs = Reports.dailyCtrReport(
      InitialLoad.nameDim(st.advertiser, st.campaign), days)
    val q05 = Parity.dailyCtrReport(spark, dir)
    assert(q05.count() > 0)
    assertSameRows(jobs, q05, "Reports.dailyCtrReport vs q05")
  }

  test("delta anti-join keys are exactly the campaigns changed after cutoff") {
    // every returned key must have activity at/after the cutoff or be absent
    // from the stale side; spot-check: all changed campaigns have max fact
    // time >= cutoff
    val changed = Parity.deltaAntiJoin(spark, dir)
    val lastFact = Adtech.impressions(spark, dir)
      .groupBy(col("campaign_id").as("rtm_campaign_id"))
      .agg(max("created_at").as("m"))
    val bad = changed.join(lastFact, Seq("rtm_campaign_id"), "left")
      .filter(col("m") < to_timestamp(lit("1998-01-01")))
    assert(bad.count() == 0)
  }

  test("ann topk returns exactly 5 ranked neighbors per query") {
    val topk = Extensions.annCosineTopK(spark, dir)
    val perQuery = topk.groupBy("query_id")
      .agg(count(lit(1)).as("n"), max("rank").as("mr"), min("rank").as("nr"))
      .collect()
    assert(perQuery.nonEmpty)
    perQuery.foreach { r =>
      assert(r.getLong(1) == 5 && r.getInt(2) == 5 && r.getInt(3) == 1)
    }
    // rank 1 is the true argmax: no other neighbor has higher cos_ppm
    val best = topk.filter(col("rank") === 1)
      .select(col("query_id"), col("cos_ppm").as("best"))
    val bad = topk.join(best, "query_id").filter(col("cos_ppm") > col("best"))
    assert(bad.count() == 0)
  }

  test("minhash LSH candidates cover all high-jaccard pairs (d02 ⊆ d03 check)") {
    val exact = Extensions.dedupNgramJaccard(spark, dir)
      .select("doc_a", "doc_b")
    val lsh = Extensions.dedupMinhashLsh(spark, dir).select("doc_a", "doc_b")
    val missed = exact.join(lsh, Seq("doc_a", "doc_b"), "left_anti").count()
    // 4x4 LSH at jaccard>=0.8: P[miss] = (1-0.8^4)^4 ~ 12% per pair; the
    // planted near-dups sit at ~0.98 where P[miss] < 0.1% — expect zero.
    assert(missed == 0, s"$missed high-jaccard pairs missed by LSH")
  }

  test("t15 shard assignment balances token totals across shards") {
    // Round-robin by size rank is an LPT approximation: with hundreds of
    // docs per shard the heaviest/lightest shard should be within 10%.
    val shards = Extensions.shardAssign(spark, dir)
      .select(col("total_tokens")).collect().map(_.getLong(0))
    assert(shards.length == 8, s"expected 8 shards, got ${shards.length}")
    assert(shards.max.toDouble / shards.min <= 1.10,
      s"shard token totals unbalanced: min ${shards.min} max ${shards.max}")
  }

  test("q17 HLL approximate distinct is within 15% of the exact count") {
    // The sketch has no oracle (engine-specific); its accuracy contract
    // is bounded here instead (default HLL rsd is 5%; 15% is a safe
    // ceiling that still catches a broken sketch or wiring).
    Parity.approxDistinct(spark, dir).collect().foreach { r =>
      val exact = r.getLong(r.fieldIndex("exact_users")).toDouble
      val approx = r.getLong(r.fieldIndex("approx_users")).toDouble
      assert(exact > 0 && math.abs(approx - exact) / exact <= 0.15,
        s"approx $approx vs exact $exact out of bounds")
    }
  }

  test("q20 conditional-agg evaluation equals the literal EXCEPT/INTERSECT") {
    assertSameRows(Parity.setOpsSegments(spark, dir),
      Parity.setOpsSegmentsLiteral(spark, dir), "set-op equivalence")
  }

  test("exact dedup partitions the corpus") {
    val d = Extensions.dedupExact(spark, dir)
    val total = d.agg(sum("n_copies")).collect()(0).getLong(0)
    assert(total == Tables.t(spark, dir, "documents").count())
  }

  test("t21 novelty conserves the shingle universe and zeroes exact copies") {
    val nov = Extensions.ngramNovelty(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // Per-doc sanity: 0 <= n_novel <= n_grams.
    nov.values.foreach { case (g, n) => assert(n >= 0 && n <= g) }
    // Conservation: every distinct shingle is novel in exactly one doc
    // (its first), so sum(n_novel) == |distinct shingles|.
    val universe = Tables.t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
      .transform(Extensions.shinglesOfDocs)
      .select("shingle").distinct().count()
    assert(nov.values.map(_._2).sum == universe,
      s"sum(n_novel) ${nov.values.map(_._2).sum} != universe $universe")
    // The fixture has no exact duplicates, so the copy property is pinned
    // on a planted corpus: a verbatim copy of an earlier doc must score
    // zero novelty, the first doc full novelty.
    import spark.implicits._
    val planted = Seq(
      (1L, "en", "alpha beta gamma delta epsilon"),
      (2L, "en", "alpha beta gamma delta epsilon"),
      (3L, "en", "zeta eta theta iota kappa"))
      .toDF("doc_id", "lang", "text")
    val pn = Extensions.ngramNoveltyOfDocs(planted).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(pn(1L)._1 == 3 && pn(1L)._2 == 3, s"first doc not fully novel: $pn")
    assert(pn(2L)._2 == 0, s"verbatim copy scored novel shingles: $pn")
    assert(pn(3L)._2 == pn(3L)._1, s"disjoint doc not fully novel: $pn")
  }

  test("t23 source stats partition the corpus and conserve novelty") {
    val rows = Extensions.sourceStats(spark, dir).collect()
    val nDocs = rows.map(_.getLong(1)).sum
    assert(nDocs == Tables.t(spark, dir, "documents").count(),
      "per-source doc counts do not partition the corpus")
    val novelSum = rows.map(_.getLong(5)).sum
    val universe = Tables.t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
      .transform(Extensions.shinglesOfDocs)
      .select("shingle").distinct().count()
    assert(novelSum == universe,
      s"source-rollup novelty $novelSum != universe $universe")
  }

  test("s14 k-means refinement conserves mass and assigns every vector") {
    val out = Extensions.kmeansRefine(spark, dir).persist()
    try {
      val n = Tables.t(spark, dir, "embeddings").count()
      // every vector lands in exactly one cell: member counts sum to n
      val members = out.select("cent_id", "n_members").distinct()
      assert(members.agg(sum("n_members")).head.getLong(0) == n)
      // 64 component rows per surviving cell
      val bad = out.groupBy("cent_id").agg(count(lit(1)).as("c"))
        .filter(col("c") =!= 64)
      assert(bad.count() == 0)
      // exact conservation: per-dimension component sums over all cells
      // equal the corpus-wide quantized component sums (nothing lost or
      // double-counted by the assignment)
      val perDim = out.groupBy("i").agg(sum("csum").as("s"))
      val corpus = Tables.t(spark, dir, "embeddings")
        .select(expr("transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000000 + 0.5) AS BIGINT))").as("q"))
        .select(posexplode(col("q")))
        .groupBy((col("pos") + 1).as("i")).agg(sum("col").as("cs"))
      val mism = perDim.join(corpus, "i").filter(col("s") =!= col("cs"))
      assert(mism.count() == 0, "component mass not conserved")
    } finally out.unpersist()
  }

  test("t24 cluster sample caps every cell and keeps contiguous ranks") {
    val smp = Extensions.clusterSample(spark, dir).persist()
    try {
      val per = smp.groupBy("cell")
        .agg(count(lit(1)).as("n"), max("smp_rank").as("mx"), min("smp_rank").as("mn"))
        .collect()
      assert(per.nonEmpty)
      per.foreach { r =>
        assert(r.getLong(1) <= 8 && r.getInt(3) == 1 &&
          r.getInt(2).toLong == r.getLong(1),
          s"cell ${r.get(0)}: count/rank invariants broken")
      }
      // the sample never invents ids
      val ids = Tables.t(spark, dir, "embeddings").select("vec_id")
      assert(smp.join(ids, Seq("vec_id"), "left_anti").count() == 0)
    } finally smp.unpersist()
  }

  test("t25 chunking tiles every document with 64/48 windows") {
    val ch = Extensions.chunkDocs(spark, dir).persist()
    try {
      val docs = Tables.t(spark, dir, "documents")
        .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
      // chunk count per doc = greatest((n-17) div 48, 0) + 1 with
      // contiguous ids — the tiling stops once the previous 64-token
      // window already covers the tail (no fully-subsumed final chunk)
      val per = ch.groupBy("doc_id")
        .agg(count(lit(1)).as("c"), max("chunk_id").as("mx"))
      val badCount = per.join(docs, "doc_id")
        .filter(col("c") =!=
          greatest(expr("(n - 17) div 48"), lit(0)).cast("int") + 1 ||
          col("mx") =!= col("c") - 1)
      assert(badCount.count() == 0)
      // every chunk holds exactly the window's overlap with the doc,
      // and the last chunk always ADDS tokens (17..64 of them)
      val badTok = ch.join(docs, "doc_id")
        .filter(col("n_tokens") =!=
          least(lit(64), col("n") - col("chunk_id") * 48).cast("long") ||
          col("n_tokens") > 64 ||
          (col("chunk_id") > 0 && col("n_tokens") < 17))
      assert(badTok.count() == 0)
      // chunking is a pure map: the physical plan has no shuffle at all
      val plan = ch.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"chunkDocs shuffles:\n$plan")
    } finally ch.unpersist()
  }

  test("s22 MMR re-ranks inside the exact pool, relevance-first at rank 1") {
    val mmr = Extensions.mmrDiversified(spark, dir).persist()
    val top = Extensions.annCosineTopK(spark, dir).persist()
    try {
      // 5 picks per query, contiguous ranks.
      val shape = mmr.groupBy("query_id")
        .agg(count(lit(1)).as("c"), max("mmr_rank").as("mx"),
          countDistinct("neighbor_id").as("d"))
        .filter(col("c") =!= 5 || col("mx") =!= 5 || col("d") =!= 5)
      assert(shape.count() == 0, "MMR pick structure broken")
      // Greedy step 1 is the pure-relevance argmax — MMR's first pick
      // must equal exact top-1 (s01's rank 1).
      val r1 = mmr.filter(col("mmr_rank") === 1)
        .select("query_id", "neighbor_id")
      val t1 = top.filter(col("rank") === 1)
        .select("query_id", "neighbor_id")
      assert(r1.join(t1, Seq("query_id", "neighbor_id"), "left_anti")
        .count() == 0, "MMR rank 1 is not the relevance argmax")
      // Diversification actually binds on this corpus: some later pick
      // departs from the plain top-5 order (otherwise the penalty term
      // is dead code here).
      val plain5 = top.filter(col("rank") <= 5)
        .select("query_id", "neighbor_id")
      assert(mmr.join(plain5, Seq("query_id", "neighbor_id"), "left_anti")
        .count() > 0, "MMR never departed from plain top-5 — penalty inert")
    } finally { mmr.unpersist(); top.unpersist() }
  }

  test("t26 hard negatives are co-located non-duplicates with contiguous ranks") {
    val neg = Extensions.hardNegatives(spark, dir).persist()
    try {
      assert(neg.count() > 0, "fixture yields no hard negatives")
      // Every negative sits BELOW the near-dup threshold...
      assert(neg.filter(col("cos_ppm") >= 350000).count() == 0,
        "a near-dup leaked into the negatives")
      // ...and is disjoint from s05's near-dup pair set (the band
      // between random and duplicate is the mined region).
      val dup = Extensions.semdedupCells(spark, dir)
      val dupSym = dup.select(col("vec_a").as("doc_id"),
          col("vec_b").as("negative_id"))
        .unionByName(dup.select(col("vec_b").as("doc_id"),
          col("vec_a").as("negative_id")))
      assert(neg.join(dupSym, Seq("doc_id", "negative_id"), "left_semi")
        .count() == 0, "a negative is also a near-dup pair")
      // Ranks are contiguous hardest-first per doc, at most 3.
      val bad = neg.groupBy("doc_id")
        .agg(count(lit(1)).as("c"), max("rank").as("mx"), min("rank").as("mn"))
        .filter(col("mx") =!= col("c") || col("mn") =!= 1 || col("c") > 3)
      assert(bad.count() == 0, "rank structure broken")
    } finally neg.unpersist()
  }

  test("s16 hybrid fusion ranks 10 per query with bounded RRF mass") {
    val h = Extensions.hybridRrf(spark, dir).collect()
    val per = h.groupBy(_.getLong(0))
    assert(per.size == 10, s"expected 10 query docs, got ${per.size}")
    per.foreach { case (q, rows) =>
      assert(rows.length == 10, s"query $q: ${rows.length} rows")
      assert(rows.map(_.getInt(3)).sorted.toSeq == (1 to 10),
        s"query $q: ranks not contiguous")
      rows.foreach { r =>
        val v = r.getLong(2)
        // RRF mass per doc is at most both rank-1 terms (1e6 div 61 each)
        assert(v > 0 && v <= 2 * (1000000 / 61),
          s"query $q: rrf_ppm $v out of bounds")
      }
    }
  }

  test("d15 chunk dupes agree with the t25 chunk table") {
    val dup = Extensions.chunkDupes(spark, dir).persist()
    try {
      assert(dup.count() > 0, "fixture has cross-doc repeated chunks")
      val bad = dup.filter(col("n_docs") < 2 || col("n_chunks") < col("n_docs"))
      assert(bad.count() == 0)
      // recomputing the flagged groups from the chunk table reproduces
      // the counts exactly (d15 is a pure rollup of t25)
      val recount = Extensions.chunkDocs(spark, dir)
        .groupBy("chunk_hash")
        .agg(countDistinct("doc_id").as("rd"), count(lit(1)).as("rc"),
          min("doc_id").as("rf"))
      val mism = dup.join(recount, "chunk_hash")
        .filter(col("n_docs") =!= col("rd") || col("n_chunks") =!= col("rc") ||
          col("first_doc") =!= col("rf"))
      assert(mism.count() == 0)
    } finally dup.unpersist()
  }

  test("t22 incremental novelty equals one-shot t21 restricted to the delta") {
    // The maintained-first-seen probe must be a pure restriction of the
    // one-shot computation: same rows, same counts, for the d10 delta
    // convention (newest 10% of ids).
    val cut = Tables.t(spark, dir, "documents")
      .agg(max(col("doc_id")).as("m")).collect()(0).getLong(0) * 9
    val oneShot = Extensions.ngramNovelty(spark, dir)
      .filter(col("doc_id") * 10 > cut)
    assertSameRows(Extensions.noveltyIncremental(spark, dir), oneShot,
      "t22 ≡ t21|delta")
  }

  test("t39 histogram quantile estimates sit within one bin width of the exact order statistic") {
    import spark.implicits._
    val exactLens = Tables.t(spark, dir, "documents")
      .select(col("lang"), size(split(col("text"), " ")).cast("long").as("n"))
      .as[(String, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).sorted).toMap
    val est = Extensions.lengthQuantiles(spark, dir)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(est.nonEmpty)
    est.foreach { case (lang, n, p50, p90, p99) =>
      val lens = exactLens(lang)
      assert(n == lens.length)
      Seq((50L, p50), (90L, p90), (99L, p99)).foreach { case (q, e) =>
        val r = ((n * q + 99L) / 100L).toInt // ceil rank, 1-based
        val exact = lens(r - 1)
        assert(math.abs(e - exact) <= Extensions.HistBinW,
          s"$lang p$q est $e vs exact $exact")
      }
    }
  }

  test("t38 keeps target-distribution lookalikes and drops off-target docs") {
    // Four docs speak the target's bigram ("x x"), four speak bigrams the
    // target never emits (pt = 0 for every bucket they touch, so their
    // mean pt-pr contrast is negative). keepPct=50 must keep exactly the
    // four target-aligned docs.
    import spark.implicits._
    val docs = Seq(
      (1L, "x x x x x x"), (2L, "x x x x x x"),
      (3L, "x x x x x x"), (4L, "x x x x x x"),
      (5L, "u1 u2 u3 u4 u5 u6"), (6L, "v1 v2 v3 v4 v5 v6"),
      (7L, "w1 w2 w3 w4 w5 w6"), (8L, "z1 z2 z3 z4 z5 z6"))
      .toDF("doc_id", "text")
    val target = Seq(Tuple1(1L), Tuple1(2L)).toDF("doc_id")
    val got = Extensions.dsirOf(docs, target, 50L)
      .select("doc_id", "keep").as[(Long, Int)].collect().toMap
    assert(got.size == 8)
    assert(got.filter(_._2 == 1).keySet == Set(1L, 2L, 3L, 4L))
  }

  test("t38 boundary ties break deterministically by doc_id and hit the exact count") {
    // All docs share one score (identical text): the whole corpus is the
    // boundary tie class. keepPct=50 of 6 docs → exactly the 3 lowest ids.
    import spark.implicits._
    val docs = (1L to 6L).map(i => (i, "a b c d e"))
      .toDF("doc_id", "text")
    val target = Seq(Tuple1(1L)).toDF("doc_id")
    val got = Extensions.dsirOf(docs, target, 50L)
      .filter(col("keep") === 1)
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(1L, 2L, 3L))
  }
}
