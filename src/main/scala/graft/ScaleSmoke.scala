package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-cliff smoke (run on demand, not part of the driver contract):
  * self-generates a `reps`× corpus from sf0.1 and measures the top-cost
  * queries at both scales, reporting per-query time-vs-size scaling
  * exponents — the empirical check behind every "would this hold at
  * 100 TB" claim in COVERAGE.md. An exponent ≈ 1 is linear scaling;
  * the expected exceptions are documented in BENCH_SF1_SMOKE.md.
  *
  * Scaling preserves each table's CHARACTER instead of naively copying
  * rows (verbatim copies would plant `reps`-way duplicate groups and
  * quadratically inflate every pair log — a different workload, not a
  * bigger one):
  *  - documents: replica k > 0 interleaves a replica token every 3
  *    tokens, so within-replica shingle structure (and thus the
  *    near-dup pair graph) is preserved exactly while cross-replica
  *    Jaccard collapses to ~0.14 ≪ 0.8 (one unsalted shingle per 3-run
  *    survives; band collision odds at J≈0.14 are J⁴ ≈ 4·10⁻⁴).
  *  - embeddings: replica k applies a fixed orthogonal transform (a
  *    dimension permutation j → (2k+1)·j + 7k mod 64 times a ±1 sign
  *    pattern), preserving every within-replica cosine EXACTLY while
  *    cross-replica cosines fall to the background N(0, 1/64) tail —
  *    the same tail the original corpus's threshold pairs come from.
  *  - orders/customer/lineitem: key-offset replicas (per-key structure
  *    identical, key cardinality ×reps).
  *
  * Measurement mirrors Bench: noop sink, catalog cache cleared + GC
  * before each query, median of `SPARK_GRAFT_SMOKE_ITERS` (default 3).
  * Output: one JSON line {"metric":"scale_smoke",...,"exponents":{...}}.
  */
object ScaleSmoke {

  /** The top-cost queries of BENCH_LOCAL.json (round 8), the verdict's
    * smoke list — d03 stands in for d02 (the registered scale twin) —
    * plus the round-9 additions, cheap at sf0.1 but included because
    * their scale CLAIMS deserve the same empirical exponent: s13's
    * linear coarse code scan, t21's d01-class shingle agg, s14's
    * O(n^1.5) Lloyd training (n·√n dots — expect a ~1.5 exponent BY
    * DESIGN, the documented IVF training trade), s15's cell-pruned
    * serving (vs s13's linear scan), and t25's pure per-row chunk
    * map. */
  private[graft] val Queries = Seq(
    "d08_edit_distance_pairs", "d13_semantic_canonical",
    "d06_dedup_clusters", "q27_dense_daily_spine",
    "d10_dedup_incremental", "q10_campaign_stats",
    "d03_dedup_minhash_lsh", "t16_decontaminated_corpus",
    "s13_ann_sq8", "t21_ngram_novelty",
    "s14_kmeans_refine", "s15_ann_ivf_sq8", "t25_chunk_docs",
    "s16_hybrid_rrf",
    // Round-10 additions: s17's claim is that index-resident codes
    // bound the coarse pass by the pruned cells (its exponent should
    // track s15's, both far below s13's linear scan — the per-dir index
    // build amortizes across iterations via the memo); s18's chunk
    // MaxSim is query-grain × corpus chunks, expect ~linear; s19's
    // posting join is Σ df at query grain (~linear in corpus); s20's
    // PQ assignment is n × ~256 fixed-size codebooks + query-grain ADC
    // (~linear — the codebook count is capped, unlike s14's √n).
    "s17_ann_ivf_sq8_indexed", "s18_chunk_ann",
    "s19_bm25_topk", "s20_ann_pq",
    // Round-11 additions: s21's ADC rides the stored index's pruned
    // cells + 4-byte codes (expect s17's class, far sublinear); s22's
    // greedy re-rank is corpus-independent by claim — its only
    // n-dependent stage is the |Q|·n exact pool scan with |Q| = 10, so
    // the exponent should sit well below 1 (the constant-cost rounds
    // dominate at this scale); t26's pair scan is cell-blocked like
    // s05 (never all-pairs) but its one-shot assignment recompute is
    // n·√n — measured 1.51, the suite's only super-linear row; t27 is
    // t26 off the stored membership rows, which deletes exactly that
    // term (measured 0.55 — the starkest stored-vs-recompute spread
    // in the suite).
    "s21_ann_ivf_pq_indexed", "s22_mmr_diversified",
    "t26_hard_negatives", "t27_hard_negatives_indexed",
    // s23's two rankers are both ~linear sweeps at query grain (the
    // chunk-pair dots and the Σ-df posting join); fusion is rank-only.
    "s23_chunk_hybrid",
    // t28's block-hierarchical prefix sum bounds every window partition
    // at blockDocs rows — expect ~linear in the manifest rows it emits,
    // with no single-partition window cliff for the exponent to expose.
    "t28_pack_manifest",
    // d16 keeps the long-doc FRAME ROUTE under standing smoke coverage
    // (round 17): its book count grows with the seed slice (6 → 13
    // families across the SFs, capped by the id<1200 bound), so the
    // exponent reads the routed verify's scaling on a corpus where the
    // census is non-empty by construction — a materialization-
    // discipline regression (the round-16 18× fan-out class) shows up
    // here as a super-linear cliff.
    "d16_longdoc_routed",
    // t32's only corpus-grain stage is the word-frequency hash agg; the
    // 12 merge rounds run at word grain, and the synthetic corpus's
    // vocabulary is FIXED (~31 words), so the word table doesn't grow
    // at 10× — expect well below linear, the Heaps-law claim at its
    // degenerate extreme. t34 reads the stored merges (memo-amortized
    // like s17's index) and folds the same fixed distinct-word set:
    // its corpus-grain work is one broadcast join + agg, ~linear at
    // most in the explode.
    "t32_bpe_vocab", "t34_bpe_tokens_stored",
    // t35 composes t34's pass with t28's block-decomposed packer —
    // expect the max of their exponents (~0.3); t37's sketch build is
    // the one honestly linear stage (4× exploded hash agg over the
    // token stream), with the estimate join constant (1024 rows) —
    // expect ≤ ~0.5 at this scale where per-job overhead still
    // dominates.
    "t35_bpe_packs", "t37_cms_heavy_hitters",
    // Round-12 additions: the IMI quantizer generation moved every
    // recompute-the-assignment chain from n·√n full-width dots to
    // n·2·∜n half-width dots — s03 (assignment + probe + rerank) and
    // s05 (assignment + cell-blocked pair scan) carry the claim
    // directly, and t26 above is the anchor whose flat-quantizer
    // exponent was the suite's only super-linear row (1.51–1.63
    // measured across rounds); all three should now sit in the
    // ~n^1.25 class or below.
    "s03_ann_ivf", "s05_semdedup_cells",
    // t38's stages are hash aggs and 1024-row broadcast joins; its only
    // unpartitioned window runs at SCORE-DOMAIN grain (ppm-bounded,
    // corpus-size-independent) and the tie-rank at boundary-class grain
    // — expect ~linear in the bigram stream, the t20 class.
    "t38_dsir_select",
    // t39 is ONE map-side-combinable agg over the corpus plus
    // sketch-grain windows (≤1024 bins/lang) — expect deep sub-linear;
    // q36's overlap join is bucket-equi-joined with output ~pair count,
    // which grows ~quadratically in per-bucket session DENSITY — the
    // scaled corpus multiplies users in the same wall-clock span, so
    // the exponent reads the output's growth, not a plan cliff (the
    // no-NLJ pin is the plan evidence).
    "t39_length_quantiles", "q36_session_overlaps",
    // t40 composes five families end-to-end: every gate is a key-grain
    // semi/anti join, the selection window runs at score-domain grain,
    // and the packer is t28's block prefix sum — expect the t30 class
    // (the 8-gram contamination stream is the dominant linear term).
    "t40_curation_manifest",
    // Round-15 additions — the kernel-rewritten paths whose 10× record
    // the round-14 verdict flagged as stale: d14's hash-grain blocked
    // candidates + pair-grain string stats (its cost is the blocked
    // collision count, expect the d03 class); t20's window-free bigram
    // stream (one row-local transform + two hash aggs — expect
    // ~linear); d11's kernel 30-gram windows (d01-class hash agg).
    // d03/d06/d10/t16/t21 above already cover the routed pair verify
    // and the distinct-gram kernel sweep.
    "d14_dedup_jaccard_blocked", "t20_bigram_lm_score",
    "d11_substring_dupes")

  def main(args: Array[String]): Unit = {
    val src = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val reps = sys.env.getOrElse("SPARK_GRAFT_SMOKE_REPS", "10").toInt
    val iters = sys.env.getOrElse("SPARK_GRAFT_SMOKE_ITERS", "3").toInt
    val out = java.nio.file.Files.createTempDirectory("graft-sf1").toString
    val spark = Session.start()

    buildScaled(spark, src, out, reps)
    // Warm-up: one tiny shuffle so JIT/codegen isn't billed to query 1.
    spark.range(1000).groupBy((col("id") % 10).as("k")).count()
      .write.format("noop").mode("overwrite").save()

    def measure(dir: String): Map[String, Double] =
      Queries.map { name =>
        val build = SparkEntry.queries(name)
        spark.catalog.clearCache()
        System.gc()
        val times = (1 to iters).map { _ =>
          val t0 = System.nanoTime()
          build(spark, dir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }.sorted
        System.err.println(s"[smoke] $name @ $dir: " +
          times.map(t => f"$t%.2f").mkString(" "))
        name -> times(times.length / 2)
      }.toMap

    val small = measure(src)
    val big = measure(out)
    val exps = Queries.map { q =>
      q -> math.log(big(q) / small(q)) / math.log(reps.toDouble)
    }.toMap
    def fmt(m: Map[String, Double]) = Queries
      .map(q => s""""$q":${f"${m(q)}%.3f"}""").mkString("{", ",", "}")
    println(s"""{"metric":"scale_smoke","reps":$reps,"iters":$iters,""" +
      s""""small_sec":${fmt(small)},"big_sec":${fmt(big)},""" +
      s""""exponents":${fmt(exps)}}""")
    spark.stop()
  }

  /** Writes the `reps`× corpus (documents, embeddings, orders, customer,
    * lineitem — the inputs of [[Queries]]) under `out`, replica 0 being
    * the source verbatim. */
  private[graft] def buildScaled(s: SparkSession, src: String, out: String,
                                 reps: Int): Unit = {
    def rd(t: String) = s.read.parquet(s"$src/$t.parquet")
    def append(df: DataFrame, t: String): Unit =
      df.write.mode("append").parquet(s"$out/$t.parquet")
    val maxDoc = rd("documents").agg(max("doc_id")).head.getLong(0) + 1
    val maxVec = rd("embeddings").agg(max("vec_id")).head.getLong(0) + 1
    val maxOrd = rd("orders").agg(max("o_orderkey")).head.getLong(0) + 1
    val maxCust = rd("customer").agg(max("c_custkey")).head.getLong(0) + 1
    val events = graft.Tables.t(s, src, "events")
    val maxEvt = events.agg(max("event_id")).head.getLong(0) + 1
    val maxUser = events.agg(max("user_id")).head.getLong(0) + 1

    (0 until reps).foreach { k =>
      val docs0 = rd("documents")
        .withColumn("doc_id", col("doc_id") + lit(k * maxDoc))
      val docs = if (k == 0) docs0 else docs0
        .withColumn("text", expr(
          s"""array_join(flatten(transform(split(text, ' '),
             |  (tok, i) -> IF(i % 3 = 2, array(tok, 'rk$k'), array(tok)))),
             |  ' ')""".stripMargin))
        .withColumn("n_chars", length(col("text")).cast("long"))
      append(docs, "documents")

      val emb0 = rd("embeddings")
        .withColumn("vec_id", col("vec_id") + lit(k * maxVec))
      val emb = if (k == 0) emb0 else emb0
        .withColumn("embedding", expr(
          s"""transform(sequence(0, 63), j -> CAST(
             |  element_at(embedding,
             |    CAST(((${2 * k + 1} * j + ${7 * k}) % 64) + 1 AS INT)) *
             |  IF(bit_count(CAST(j AS INT) & $k) % 2 = 0, 1.0, -1.0)
             |  AS FLOAT))""".stripMargin))
      append(emb, "embeddings")

      append(rd("orders")
        .withColumn("o_orderkey", col("o_orderkey") + lit(k * maxOrd))
        .withColumn("o_custkey", col("o_custkey") + lit(k * maxCust)),
        "orders")
      append(rd("customer")
        .withColumn("c_custkey", col("c_custkey") + lit(k * maxCust)),
        "customer")
      append(rd("lineitem")
        .withColumn("l_orderkey", col("l_orderkey") + lit(k * maxOrd)),
        "lineitem")

      // Events replicate with fresh USERS inside the SAME wall-clock
      // span (ids offset, timestamps untouched): sessionization stays
      // per-user exact while per-hour-bucket session density grows
      // reps× — precisely the peak-hour regime q36's exponent is
      // supposed to read (its overlap OUTPUT grows ~density² per
      // bucket, so the exponent measures output growth, not a plan
      // cliff). Read through Tables.t (the ts-encoding normalizer) and
      // written back as session-tz timestamps.
      append(events
        .withColumn("event_id", col("event_id") + lit(k * maxEvt))
        .withColumn("user_id", col("user_id") + lit(k * maxUser)),
        "events")
    }
  }
}
