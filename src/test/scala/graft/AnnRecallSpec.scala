package graft

import graft.queries.Extensions
import org.apache.spark.sql.functions._

/** Retrieval QUALITY of the approximate ANN paths, not just determinism:
  * the oracle hash-check proves s02/s03 compute what they claim, but not
  * that what they claim is close to the true neighbors. recall@5 against
  * the exact brute-force top-k (s01) pins that.
  *
  * Floors (documented in COVERAGE.md) reflect MEASURED quality on the
  * sf0.01 synthetic embeddings, which are near-uniform — the hardest
  * case for ANN, recall ≈ corpus fraction scanned: banded 8×4 sign-LSH
  * measured well above 0.6 (the single-table 8-bit signature it replaced
  * measured 0.02); 12-probe-of-32-√n-cells IVF measured 0.64 (8 probes:
  * 0.52, 4: 0.42, all 32: 1.00 exactly — within-cell re-ranking is
  * exact, so probing every cell degenerates to s01). Raising recall
  * means more tables/probes — a parameter, not a code change. The
  * 32-of-64-dim prefix rerank (s06) measured 0.96 at top-100
  * candidates (16 dims / top-50: 0.60, 32 / top-50: 0.76) — floor
  * 0.85; prefix dims and candidate count are its two dials. */
class AnnRecallSpec extends SparkSpec {

  private def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    df.select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(1)).toSet).toMap

  test("LSH-bucketed ANN achieves recall@5 >= 0.6 vs exact (sf0.01)") {
    val dir = sf("sf0.01")
    val exact = topSets(Extensions.annCosineTopK(spark, dir))
    val lsh = topSets(Extensions.annLshBuckets(spark, dir))
    val recalls = exact.map { case (q, truth) =>
      lsh.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.6, f"LSH mean recall@5 $mean%.2f < 0.6")
  }

  test("truncated-dim prefilter ANN achieves recall@5 >= 0.85 vs exact (sf0.01)") {
    val dir = sf("sf0.01")
    val exact = topSets(Extensions.annCosineTopK(spark, dir))
    val trunc = topSets(Extensions.annTruncated(spark, dir))
    val recalls = exact.map { case (q, truth) =>
      trunc.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.85, f"truncated-prefilter mean recall@5 $mean%.2f < 0.85")
  }

  test("PQ ANN achieves recall@5 >= 0.85 vs exact (sf0.01)") {
    // PQ4x16 compresses to 4 bytes/vector — the most aggressive tier in
    // the matrix — yet measured recall@5 is 1.00 here: the coarse PQ
    // order only has to land the true top-5 inside the top-100
    // CANDIDATES, and the exact rerank recovers the ordering (the same
    // reason s13's SQ8 measured lossless). Floor 0.85 with headroom;
    // the dials are subspace count, codebook size, and candidate depth.
    val dir = sf("sf0.01")
    val exact = topSets(Extensions.annCosineTopK(spark, dir))
    val pq = topSets(Extensions.annPq(spark, dir))
    val recalls = exact.map { case (q, truth) =>
      pq.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    info(f"PQ4x16 mean recall@5 vs exact: $mean%.2f")
    assert(mean >= 0.85, f"PQ mean recall@5 $mean%.2f < 0.85")
  }

  test("IVF∘PQ (index-served) keeps s03's recall floor (sf0.01)") {
    // s21 compounds the cell probe's recall with PQ's coarse order; as
    // with SQ8 and the prefix, the top-100 exact rerank recovers the
    // ordering within probed cells, so recall tracks s03's cell-probe
    // floor.
    val dir = sf("sf0.01")
    val exact = topSets(Extensions.annCosineTopK(spark, dir))
    val pq = topSets(Extensions.annIvfPqIndexed(spark, dir))
    val recalls = exact.map { case (q, truth) =>
      pq.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    info(f"IVF∘PQ mean recall@5 vs exact: $mean%.2f")
    assert(mean >= 0.6, f"IVF∘PQ mean recall@5 $mean%.2f < 0.6")
  }

  test("s24 recall audit ≡ independently measured recall of the served path (sf0.01)") {
    // The audit operator IS this spec's measurement, productionized: its
    // per-query n_hit must equal the intersection the spec computes from
    // the two top-5 sets, and its mean must clear the same cell-probe
    // floor the direct IVF tests pin. (If these ever disagree, the audit
    // would silently mis-trigger retrains — the one failure mode a
    // health metric cannot have.)
    val dir = sf("sf0.01")
    val exact = topSets(Extensions.annCosineTopK(spark, dir))
    val served = topSets(Extensions.annIvfIndexed(spark, dir))
    val audit = Extensions.recallAudit(spark, dir)
      .select("query_id", "n_hit", "k", "recall_ppm").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(audit.keySet == exact.keySet, "audit must cover every probe query")
    exact.foreach { case (q, truth) =>
      val (nHit, k, ppm) = audit(q)
      assert(k == truth.size, s"q$q: k=$k vs |truth|=${truth.size}")
      val want = served.getOrElse(q, Set.empty).intersect(truth).size.toLong
      assert(nHit == want, s"q$q: audit n_hit=$nHit vs measured $want")
      assert(ppm == nHit * 1000000L / k, s"q$q: ppm arithmetic")
    }
    val mean = audit.values.map(_._3).sum.toDouble / audit.size / 1e6
    info(f"audited mean recall@5: $mean%.2f")
    assert(mean >= 0.6, f"audited mean recall $mean%.2f < 0.6 floor")
  }

  test("IVF ANN achieves recall@5 >= 0.6 vs exact (sf0.01)") {
    val dir = sf("sf0.01")
    val exact = topSets(Extensions.annCosineTopK(spark, dir))
    val ivf = topSets(Extensions.annIvf(spark, dir))
    val recalls = exact.map { case (q, truth) =>
      ivf.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.6, f"IVF mean recall@5 $mean%.2f < 0.6")
  }

  test("nprobe is a live recall dial on the served index path (two settings)") {
    // The serving entries expose the probe width every real ANN
    // deployment tunes. On the near-uniform embeddings recall tracks
    // the corpus fraction scanned, so widening 12 → 25 probed cells
    // must buy recall: floor 0.6 at the pinned default, 0.8 at the
    // widened setting, and wide ≥ narrow (same index, same epoch).
    val dir = sf("sf0.01")
    val exact = topSets(Extensions.annCosineTopK(spark, dir))
    def mean(nprobe: Int): Double = {
      val served = topSets(Extensions.annIvfIndexed(spark, dir, nprobe))
      val rs = exact.map { case (q, truth) =>
        served.getOrElse(q, Set.empty).intersect(truth).size.toDouble /
          truth.size
      }
      rs.sum / rs.size
    }
    val narrow = mean(Extensions.DefaultNprobe)
    val wide = mean(25)
    assert(narrow >= 0.6, f"served recall@5 at nprobe=12 $narrow%.2f < 0.6")
    assert(wide >= 0.8, f"served recall@5 at nprobe=25 $wide%.2f < 0.8")
    assert(wide >= narrow,
      f"widening the probe budget lost recall: $wide%.2f < $narrow%.2f")
  }

  test("SQ8 coarse pass achieves recall@5 >= 0.9 vs exact (sf0.01)") {
    // s13's 8-bit codes quantize each dimension to 255 levels of its
    // corpus range — a relative error ~1/255 per dim, far below the
    // cosine gaps between true top-5 and rank-100 candidates here, so
    // the measured recall is 1.00; floored at 0.9 to leave room for a
    // corpus regeneration with tighter gaps (the dial is bits/dim).
    val dir = sf("sf0.01")
    val exact = topSets(Extensions.annCosineTopK(spark, dir))
    val sq = topSets(Extensions.annSq8(spark, dir))
    val recalls = exact.map { case (q, truth) =>
      sq.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, f"SQ8 mean recall@5 $mean%.2f < 0.9")
  }

  test("IVF∘prefix composition keeps s03's recall floor (sf0.01)") {
    // s07 = s03's candidate pruning + s06's byte pruning. Its rerank set
    // is a subset of s03's (prefix top-100 within the probed cells), so
    // its recall is bounded above by s03's — the floor asserts the
    // prefix pass costs almost nothing of it (s06 measured the prefix
    // top-100 keeping 0.96 of the true top-5).
    val dir = sf("sf0.01")
    val exact = topSets(Extensions.annCosineTopK(spark, dir))
    val composed = topSets(Extensions.annIvfPrefix(spark, dir))
    val recalls = exact.map { case (q, truth) =>
      composed.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.6, f"IVF-prefix mean recall@5 $mean%.2f < 0.6")
  }

  test("IVF∘SQ8 composition keeps s03's recall floor (sf0.01)") {
    // s15 = s03's candidate pruning + s13's bit pruning. The SQ8 grid
    // measured recall 1.00 standalone (255 levels per dim, finer than
    // the top-5/top-100 cosine gaps here), so the composition's recall
    // is the cell probe's — the same 0.6 floor s03/s07 carry.
    val dir = sf("sf0.01")
    val exact = topSets(Extensions.annCosineTopK(spark, dir))
    val composed = topSets(Extensions.annIvfSq8(spark, dir))
    val recalls = exact.map { case (q, truth) =>
      composed.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.6, f"IVF-SQ8 mean recall@5 $mean%.2f < 0.6")
  }

  test("filtered ANN keeps the IVF recall floor vs the exact FILTERED baseline") {
    // s11's truth set is NOT s01: the baseline is brute-force cosine
    // restricted to the query's label (top-k of the filtered set, the
    // semantics a post-filtered top-k would get wrong). Probing is
    // label-agnostic (cells are geometry, labels are metadata), so the
    // filtered recall tracks s03's unfiltered floor.
    import org.apache.spark.sql.expressions.Window
    val dir = sf("sf0.01")
    val emb = Tables.t(spark, dir, "embeddings")
    val e = Extensions.quantizeFrame(emb)
      .join(emb.select(col("vec_id"), col("label")), "vec_id")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("q").as("qa"),
        col("s2").as("sa"), col("label").as("ql"))
    val n = e.select(col("vec_id").as("neighbor_id"), col("q").as("qb"),
      col("s2").as("sb"), col("label").as("nl"))
    val win = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_ppm").desc, col("neighbor_id").asc)
    val exact = topSets(q
      .join(n, col("ql") === col("nl") && col("query_id") =!= col("neighbor_id"))
      .withColumn("dot", graft.functions.DotI64(col("qa"), col("qb")))
      .withColumn("cos_ppm",
        floor(col("dot") / (sqrt(col("sa")) * sqrt(col("sb")))
          * lit(1000000.0) + lit(0.5)).cast("long"))
      .withColumn("rank", row_number().over(win))
      .filter(col("rank") <= 5))
    val got = topSets(Extensions.annIvfFiltered(spark, dir))
    val recalls = exact.map { case (qid, truth) =>
      got.getOrElse(qid, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.6, f"filtered-ANN mean recall@5 $mean%.2f < 0.6")
  }
}
