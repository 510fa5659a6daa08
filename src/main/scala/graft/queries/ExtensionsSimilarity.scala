package graft.queries

import graft.Tables
import graft.functions.{DotI64, ImiCells, Portable}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The similarity-search family (s01+) — exact cosine, LSH, IVF/IMI
  * serving paths, SQ8/PQ compression, hybrid/rrf retrieval, plus the
  * cluster fixpoint consumers they share.
  *
  * One mixin of [[Extensions]] (a pure file split of the original
  * single object — every member still resolves on Extensions.type via
  * the self-type; call sites and the query registry are unchanged). */
private[queries] trait ExtSimilarity { this: Extensions.type =>
  import Portable.{h32, idiv, ppm, P}

  // ------------------------------------------------------- similarity search

  /** s01: exact brute-force cosine top-5 for the query set (vec_id < 10).
    * O(|Q|·|corpus|) with a row-local integer dot — the correctness
    * baseline every ANN variant is judged against. */
  def annCosineTopK(s: SparkSession, dir: String): DataFrame =
    annCosineTopKOf(quantized(s, dir))

  /** s01's core at quantized-frame grain, shared with the maintained
    * service (whose live corpus is the tombstone-filtered store, not a
    * table directory). */
  private[graft] def annCosineTopKOf(e: DataFrame): DataFrame = {
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("q").as("qa"), col("s2").as("sa"))
    val b = e.select(col("vec_id").as("neighbor_id"), col("q").as("qb"), col("s2").as("sb"))
    // Top-5 via the native map-side MinKLongs aggregate (topKPerGroup),
    // not a window: the exact baseline scores |Q|·|corpus| rows and the
    // window funneled all of them into ≤|Q| reducers (round-17
    // coarse-selection sweep; native ≈ window at sf grain, probe in
    // OptProfile "topk").
    topKPerGroup(
      q.join(b, col("query_id") =!= col("neighbor_id"))
        .withColumn("dot", dot)
        .withColumn("cos_ppm", cosPpm),
      "query_id", col("cos_ppm"), "neighbor_id", 5, "cos_ppm", "rank")
      .select("query_id", "neighbor_id", "cos_ppm", "rank")
  }

  /** s02: LSH-bucketed ANN — BANDED sign-LSH: 32 deterministic md5-seeded
    * integer hyperplanes arranged as 8 hash tables × 4 sign bits (the
    * same band trick d03 uses for MinHash). A candidate only needs to
    * collide in ONE table, so recall compounds across tables
    * (1-(1-p⁴)⁸ instead of the single-table p⁸ — a lone 8-bit signature
    * keeps ~4% of true neighbors; AnnRecallSpec pins the floor at 0.6).
    * The per-table bucket equi-join is the scale path: shuffle by
    * (table, bucket), exact re-rank within. */
  def annLshBuckets(s: SparkSession, dir: String): DataFrame = {
    val e = quantized(s, dir)
    val ev = e.select(col("vec_id"), posexplode(col("q")))
      .select(col("vec_id"), (col("pos") + 1).as("i"), col("col").as("v"))
    val w = s.range(0, 32).select(col("id").as("p"))
      .crossJoin(s.range(1, 65).select(col("id").as("i")))
      .withColumn("wv", h32(concat(col("p"), lit("_"), col("i"))) % 2001 - 1000)
    val buckets = ev.join(w, "i")
      .groupBy(col("vec_id"), col("p"))
      .agg(sum(col("v") * col("wv")).as("sgn"))
      .groupBy(col("vec_id"), expr("CAST(p div 4 AS INT)").as("t"))
      .agg(sum(when(col("sgn") > 0,
        expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 4 AS INT))")).otherwise(lit(0L)))
        .as("bucket"))
    val cand = buckets.as("qb").filter(col("qb.vec_id") < 10)
      .join(buckets.as("nb"),
        col("qb.t") === col("nb.t") && col("qb.bucket") === col("nb.bucket") &&
          col("qb.vec_id") =!= col("nb.vec_id"))
      .select(col("qb.vec_id").as("query_id"), col("nb.vec_id").as("neighbor_id"))
      .distinct()
    val q = e.select(col("vec_id").as("query_id"), col("q").as("qa"), col("s2").as("sa"))
    val n = e.select(col("vec_id").as("neighbor_id"), col("q").as("qb"), col("s2").as("sb"))
    // Candidate volume is collision-bound (a hot-bucket corpus floods
    // it), so the rerank's top-5 goes through the native map-side
    // aggregate rather than a ≤|Q|-reducer window.
    topKPerGroup(
      cand.join(q, "query_id").join(n, "neighbor_id")
        .withColumn("dot", dot)
        .withColumn("cos_ppm", cosPpm),
      "query_id", col("cos_ppm"), "neighbor_id", 5, "cos_ppm", "rank")
      .select("query_id", "neighbor_id", "cos_ppm", "rank")
  }

  /** s06: truncated-dimension prefilter ANN — the Matryoshka/PCA-prefix
    * pattern: a CHEAP coarse pass scores every (query, vector) pair on
    * only the first 32 of 64 dimensions (prefix cosine from prefix
    * norms), keeps the top-100 candidates per query, and an exact
    * rerank computes the full 64-dim cosine ONLY at candidate grain.
    * Top-5 output is schema-identical to s01 so recall is directly
    * measurable: 0.96 on the near-uniform sf0.01 embeddings
    * (AnnRecallSpec floor 0.85; 16 dims / top-50 measured 0.60,
    * 32 / top-50 0.76 — prefix width and candidate count are the two
    * dials, and on real embeddings with decaying spectra the prefix
    * carries most of the variance, steepening the curve).
    *
    * The two-pass structure is the scale story, not the arithmetic: the
    * prefix pass touches a frame of (vec_id, 32-dim prefix, prefix
    * norm) ONLY — at 100 TB the prefix lives as its own parquet column
    * (or a separate sidecar table), so the coarse scan reads half the
    * vector bytes, and the full vectors are fetched by key join at
    * candidate grain (100/|corpus| of the rows), never scanned in the
    * scoring loop. Complements s02/s03: those prune CANDIDATES by
    * bucket/cell; this prunes BYTES-PER-SCORE — on clustered production
    * embeddings the two compose (prefix-score within a probed cell). */
  def annTruncated(s: SparkSession, dir: String): DataFrame = {
    val e = quantized(s, dir)
    // The prefix-only frame: what the coarse pass is allowed to read.
    val pfx = e.select(col("vec_id"), expr("slice(q, 1, 32)").as("qp"))
      .withColumn("sp", DotI64(col("qp"), col("qp")))
    val qp = pfx.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("qp").as("qpa"), col("sp").as("spa"))
    val np = pfx.select(col("vec_id").as("neighbor_id"),
      col("qp").as("qpb"), col("sp").as("spb"))
    // Coarse top-100 via the native map-side aggregate (the window put
    // |Q|·|corpus| prefix-scored rows through ≤|Q| reducers).
    val cand = topKPerGroup(
      qp.join(np, col("query_id") =!= col("neighbor_id"))
        .withColumn("pdot", DotI64(col("qpa"), col("qpb")))
        .withColumn("pcos",
          floor(col("pdot") / (sqrt(col("spa")) * sqrt(col("spb")))
            * lit(1000000.0) + lit(0.5)).cast("long")),
      "query_id", col("pcos"), "neighbor_id", 100)
      .select("query_id", "neighbor_id")
    // Exact rerank at candidate grain: full vectors enter by key join.
    val q = e.select(col("vec_id").as("query_id"), col("q").as("qa"), col("s2").as("sa"))
    val n = e.select(col("vec_id").as("neighbor_id"), col("q").as("qb"), col("s2").as("sb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_ppm").desc, col("neighbor_id").asc)
    cand.join(q, "query_id").join(n, "neighbor_id")
      .withColumn("dot", dot)
      .withColumn("cos_ppm", cosPpm)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("query_id", "neighbor_id", "cos_ppm", "rank")
  }

  /** s13: scalar-quantized (SQ8) ANN — the third compression axis of the
    * serving matrix. s02/s03 prune CANDIDATES (buckets/cells), s06 prunes
    * DIMENSIONS (32-of-64 prefix); s13 prunes BITS-PER-DIMENSION: every
    * vector is affinely quantized to 8-bit codes against per-dimension
    * corpus ranges (the FAISS `SQ8` layout), the coarse pass scores every
    * (query, vector) pair on the RECONSTRUCTED codes — at scale the code
    * frame is 1 byte/dim, an 8x byte reduction the coarse scan reads
    * instead of the float vectors — keeps top-100 per query, and the
    * exact rerank runs at candidate grain only (full vectors enter by
    * key join, never scanned in the scoring loop).
    *
    * Determinism across engines: the per-dimension range (mn, r) comes
    * from an integer min/max over the ppm-quantized corpus; code_i =
    * floor((v-mn)*255/r + 0.5) is computed in EXACT integer arithmetic
    * as ((v-mn)*510 + r) div (2r) (numerator nonnegative, so Spark's
    * truncating `div` ≡ DuckDB's floor `//`), and the coarse score uses
    * the 255x-scaled reconstruction vh = 255*mn + code*r — all BIGINT
    * sums, floats only at the final sqrt/div/floor on identical inputs
    * (the cosPpm idiom). Overflow headroom: |vh| ≤ 255·|v|max ≈ 1.5e8,
    * so a 64-dim dot is ≤ 1.4e18 < 2^63.
    *
    * Quality (AnnRecallSpec, recall@5 vs exact s01 on sf0.01): 8-bit
    * codes over the full width measured 1.00 — the quantization grid
    * (255 levels per dim) is finer than the top-5/top-100 cosine gaps
    * on these embeddings, so the coarse order matches the exact order
    * at candidate grain; floor pinned at 0.9. The dial is bits/dim
    * (4-bit halves the bytes again and would trade recall).
    * At 100 TB SQ8 composes with s03 exactly like s06 does (s07):
    * code-score within probed cells, rerank survivors. */
  /** The scalar quantizer's TRAINED state: per-dimension affine ranges
    * from one narrow agg over the posexploded (i, v) frame, folded into
    * two 64-element arrays — one broadcastable row. Persisted as the
    * stored index's `_sq8` sidecar (the codes are only meaningful
    * relative to their ranges, exactly as index cells are only
    * meaningful relative to their `_quantizer`); a range refresh is a
    * retrain-class event — within an epoch the ranges are immutable and
    * the append path encodes under them. */
  private[graft] def sq8Ranges(e: DataFrame): DataFrame =
    e.select(posexplode(col("q")))
      .groupBy((col("pos") + 1).as("i"))
      .agg(min("col").as("mn"), (max("col") - min("col")).as("r"))
      .agg(expr("array_sort(collect_list(named_struct('i', i, 'mn', mn, 'r', r)))")
        .as("st"))
      .select(expr("transform(st, x -> x.mn)").as("mns"),
        expr("transform(st, x -> x.r)").as("rs"))

  /** Encode a quantized frame against GIVEN ranges: the per-dimension
    * 8-bit `codes` (what the stored index carries — 1 byte/dim at
    * scale; smallint here, parquet bit-packs it), the 255x-scaled
    * reconstruction `vh` = 255·mn + code·r, and its norm `ss`. Codes
    * CLAMP to [0, 255]: a no-op for the corpus the ranges were trained
    * on (in-range values land in [0, 255] by construction, so s13/s15
    * arithmetic is unchanged), and the standard SQ saturation for
    * post-training arrivals the append path encodes under a frozen
    * epoch. Constant dimensions (r = 0) code to 0, reconstructing to
    * their single level 255·mn. */
  private[graft] def sq8EncodeWith(e: DataFrame, ranges: DataFrame): DataFrame =
    e.crossJoin(broadcast(ranges))
      .withColumn("codes", expr(
        """zip_with(q, zip_with(mns, rs, (m, r) -> named_struct('m', m, 'r', r)),
          |  (v, c) -> CASE WHEN c.r = 0 THEN CAST(0 AS BIGINT)
          |    ELSE greatest(CAST(0 AS BIGINT), least(CAST(255 AS BIGINT),
          |           ((v - c.m) * 510 + c.r) div (2 * c.r)))
          |  END)""".stripMargin).cast("array<smallint>"))
      .withColumn("vh", expr(
        """zip_with(codes, zip_with(mns, rs, (m, r) -> named_struct('m', m, 'r', r)),
          |  (k, c) -> 255 * c.m + CAST(k AS BIGINT) * c.r)""".stripMargin))
      .withColumn("ss", DotI64(col("vh"), col("vh")))
      .select("vec_id", "codes", "vh", "ss")

  /** The SQ8 code frame (s13's construction, shared with the IVF∘SQ8
    * composition s15): ranges derived from the frame itself, encoded in
    * place — the one-shot form; s17 reads the same codes from the
    * stored index instead. */
  private[queries] def sq8Codes(e: DataFrame): DataFrame =
    sq8EncodeWith(e, sq8Ranges(e)).select("vec_id", "vh", "ss")

  /** s20: product-quantized ANN (PQ 4×16, asymmetric distance) — the
    * remaining FAISS compression tier, completing the matrix: s06
    * truncates dimensions, s13 narrows bytes per dimension (SQ8,
    * 64 B/vector), PQ replaces each 16-dim SUBVECTOR with one codebook
    * id — 4 bytes/vector, the shape billion-scale serving actually
    * stores. Codebooks are hash-sampled corpus subvectors (≈256 per
    * subspace — the coarseCentroids sampling rule at the PQ codebook
    * cardinality); encoding assigns each subvector to its nearest
    * entry by EXACT integer L2 (d² = |a|² + |b|² − 2ab, all BIGINT —
    * no k-means float drift, no libm), ties by centroid id. Scoring is
    * textbook ADC: the RAW query against each neighbor's concatenated
    * reconstruction — dot(q, recon) = Σ_m dot(q_m, codebook[m][code_m])
    * and |recon|² = Σ_m |c_m|² exactly, because subspaces are
    * disjoint. Top-100 by reconstructed cosine, exact rerank to top-5
    * (the s13/s15 tail).
    *
    * Scale shape: assignment is |corpus|·4 subvector rows × ≈256
    * broadcast codebook entries (16-dim codegen dots — s14's cost
    * class at fixed k); ADC reads (vec, sub, code) rows — the 4-byte
    * frame at scale — and |Q|·4·|corpus| lookup dots; reranks fetch
    * ~100 full vectors per query by key join. Composition with the
    * IVF cell probe (s15's pattern) and index-residence (s17's)
    * apply verbatim — registered once here at the honest corpus-wide
    * grain, s13's posture. */
  /** The PQ subvector frame: 4 rows per vector (16-dim slices + exact
    * norms) — shared by codebook sampling, encoding, and the ADC
    * query side. */
  private[graft] def pqSubvectors(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("q"),
        explode(expr("sequence(0, 3)")).as("sub"))
      .withColumn("qs", expr("slice(q, sub * 16 + 1, 16)"))
      .withColumn("ss", DotI64(col("qs"), col("qs")))
      .select("vec_id", "sub", "qs", "ss")

  /** The PQ codebook frame TRAINED on a quantized corpus: hash-sampled
    * subvectors, ≈256 entries per subspace (`n` is the corpus count —
    * callers with a memoized count pass it; builds count once). Like
    * `_quantizer` and `_sq8`, this is epoch state: the stored index
    * persists it as the `_pq` sidecar, appends encode under it frozen,
    * and a codebook refresh is a retrain-class rebuild. */
  private[graft] def pqCodebooks(e: DataFrame, n: Long): DataFrame = {
    val stride = math.max(1L, n / 256L)
    pqSubvectors(e)
      .filter(h32(col("vec_id").cast("string")) % stride === 0)
      .select(col("vec_id").as("cent_id"), col("sub"),
        col("qs").as("cs"), col("ss").as("scs"))
  }

  /** PQ-encode a quantized frame under a GIVEN codebook: per (vector,
    * subspace) the nearest entry by EXACT integer L2 (d² = |a|² + |b|²
    * − 2ab, all BIGINT), ties by centroid id — one (vec_id, sub,
    * cent_id, scs) row per subspace. */
  private[graft] def pqEncodeWith(e: DataFrame, books: DataFrame): DataFrame = {
    // Argmin as a partial-aggregable min(struct(...)) instead of a
    // row_number window (round-17 bench: the window form exchanged and
    // sorted |corpus|·4·|codebook| rows — 5M at sf0.1, the 2.0 s of
    // s20's 2.6 s — where the aggregate collapses each (vec, sub)
    // group map-side: the broadcast join leaves a group's candidate
    // rows contiguous in one task, so the exchange carries one row per
    // group). Ordering identical: struct comparison is lexicographic
    // and (d2, cent_id) is unique per group — ties cannot reach the
    // payload fields, so the winner matches the window's
    // (d2 asc, cent_id asc) exactly.
    pqSubvectors(e).join(broadcast(books), "sub")
      .withColumn("d2",
        col("ss") + col("scs") - lit(2L) * DotI64(col("qs"), col("cs")))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(struct(col("d2"), col("cent_id"), col("scs"), col("cs")))
        .as("__best"))
      .select(col("vec_id"), col("sub"),
        col("__best.cent_id").as("cent_id"),
        col("__best.cs").as("cs"), col("__best.scs").as("scs"))
  }

  def annPq(s: SparkSession, dir: String): DataFrame = {
    val e = quantized(s, dir)
    val n = corpusCountOf(s, dir)
    // Codebooks + encoding (the shared construction; s21 reads the
    // same codes from the stored index instead).
    val codes = pqEncodeWith(e, pqCodebooks(e, n))
    // Reconstruction norm: Σ over subspaces of the chosen entry's norm.
    val rnorm = codes.groupBy("vec_id")
      .agg(sum(col("scs")).as("ssr"))
    // ADC: raw query subvectors against neighbor reconstructions.
    val qsubs = pqSubvectors(e.filter(col("vec_id") < 10))
      .select(col("vec_id").as("query_id"), col("sub"), col("qs").as("qq"))
    val adc = codes.select(col("vec_id").as("neighbor_id"), col("sub"),
        col("cs"))
      .join(qsubs, "sub")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("pdot", DotI64(col("qq"), col("cs")))
      .groupBy("query_id", "neighbor_id")
      .agg(sum(col("pdot")).as("adot"))
    val qn = e.select(col("vec_id").as("query_id"), col("s2").as("sa"))
    // ADC coarse top-100 via the native map-side aggregate
    // (coarse-selection sweep: |Q|·|corpus| rows, ≤|Q| reducers).
    val cand = topKPerGroup(
      adc
        .join(qn, "query_id")
        .join(rnorm.select(col("vec_id").as("neighbor_id"), col("ssr")),
          "neighbor_id")
        .withColumn("acos",
          floor(col("adot") / (sqrt(col("sa")) * sqrt(col("ssr")))
            * lit(1000000.0) + lit(0.5)).cast("long")),
      "query_id", col("acos"), "neighbor_id", 100)
      .select("query_id", "neighbor_id")
    // Exact rerank at candidate grain (the family's shared tail).
    val q = e.select(col("vec_id").as("query_id"), col("q").as("qa"),
      col("s2").as("sa"))
    val nn = e.select(col("vec_id").as("neighbor_id"), col("q").as("qb"),
      col("s2").as("sb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_ppm").desc, col("neighbor_id").asc)
    cand.join(q, "query_id").join(nn, "neighbor_id")
      .withColumn("dot", dot)
      .withColumn("cos_ppm", cosPpm)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("query_id", "neighbor_id", "cos_ppm", "rank")
  }

  def annSq8(s: SparkSession, dir: String): DataFrame = {
    val e = quantized(s, dir)
    // The code frame: what the coarse pass is allowed to read.
    val coded = sq8Codes(e)
    val qc = coded.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("vh").as("vha"), col("ss").as("ssa"))
    val nc = coded.select(col("vec_id").as("neighbor_id"),
      col("vh").as("vhb"), col("ss").as("ssb"))
    // Coarse top-100 via the native map-side aggregate (the window put
    // the |Q|·|corpus| code-scored rows through ≤|Q| reducers).
    val cand = topKPerGroup(
      qc.join(nc, col("query_id") =!= col("neighbor_id"))
        .withColumn("adot", DotI64(col("vha"), col("vhb")))
        .withColumn("acos",
          floor(col("adot") / (sqrt(col("ssa")) * sqrt(col("ssb")))
            * lit(1000000.0) + lit(0.5)).cast("long")),
      "query_id", col("acos"), "neighbor_id", 100)
      .select("query_id", "neighbor_id")
    // Exact rerank at candidate grain only.
    val q = e.select(col("vec_id").as("query_id"), col("q").as("qa"), col("s2").as("sa"))
    val n = e.select(col("vec_id").as("neighbor_id"), col("q").as("qb"), col("s2").as("sb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_ppm").desc, col("neighbor_id").asc)
    cand.join(q, "query_id").join(n, "neighbor_id")
      .withColumn("dot", dot)
      .withColumn("cos_ppm", cosPpm)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("query_id", "neighbor_id", "cos_ppm", "rank")
  }

  /** s15: IVF ∘ SQ8 — the full FAISS "IVF√n,SQ8" serving layout and the
    * serving matrix's composition corner: the coarse quantizer prunes
    * CANDIDATES (12 probed cells of √n, s03's dial), the SQ8 codes prune
    * BYTES for scoring within them (1 byte/dim, s13's construction),
    * and the exact full-width rerank reads vectors only at top-100
    * candidate grain. s13 scores codes CORPUS-WIDE — an honest linear
    * scan; this composition scores ~nprobe/√n of the corpus instead,
    * which is the shape production vector serving deploys (cell-pruned
    * reads of a byte-compressed frame, full precision only for
    * finalists). The code frame RIDES the cell-partitioned stored index
    * (s08's layout) as the `codes`/`css` columns — s17
    * ([[annIvfSq8Indexed]]) is this query served off that storage, so
    * the probe's partition pruning bounds bytes read by nprobe/k
    * exactly as the prefix sidecar does for s07; this one-shot form
    * recomputes the codes per invocation and stands as s17's
    * recompute twin (the s07→s08 relationship).
    *
    * Recall: the two prunings compound (a true neighbor must survive
    * the cell probe AND the code-order top-100); AnnRecallSpec pins the
    * floor vs exact s01 alongside s07's — on these embeddings SQ8's
    * 255-level grid loses nothing (s13 measured 1.00), so s15's recall
    * tracks s03's cell-probe recall. */
  def annIvfSq8(s: SparkSession, dir: String): DataFrame = {
    val e = quantized(s, dir)
    val books = coarseBooks(s, dir, e)
    val assigned = imiRankB(e, books, "vec_id", 1)
      .filter(col("rn") === 1)
      .select(col("vec_id").as("neighbor_id"), col("cent_id").as("cell"))
    val probes = imiRankB(e.filter(col("vec_id") < 10), books, "vec_id", 5)
      .filter(col("rn") <= 12)
      .select(col("vec_id").as("query_id"), col("cent_id").as("cell"))
    val cellCand = probes.join(assigned, "cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id")
    // SQ8 coarse pass at cell-candidate grain: scores read ONLY the
    // code frame (the byte sidecar at scale).
    val coded = sq8Codes(e)
    val qc = coded.select(col("vec_id").as("query_id"),
      col("vh").as("vha"), col("ss").as("ssa"))
    val nc = coded.select(col("vec_id").as("neighbor_id"),
      col("vh").as("vhb"), col("ss").as("ssb"))
    // Cell-candidate coarse top-100 via the native map-side aggregate
    // (nprobe/√n of the corpus per query — still corpus-grain through
    // ≤|Q| reducers in the window form).
    val cand = topKPerGroup(
      cellCand.join(qc, "query_id").join(nc, "neighbor_id")
        .withColumn("adot", DotI64(col("vha"), col("vhb")))
        .withColumn("acos",
          floor(col("adot") / (sqrt(col("ssa")) * sqrt(col("ssb")))
            * lit(1000000.0) + lit(0.5)).cast("long")),
      "query_id", col("acos"), "neighbor_id", 100)
      .select("query_id", "neighbor_id")
    // Exact rerank at the doubly-pruned candidate grain.
    val q = e.select(col("vec_id").as("query_id"), col("q").as("qa"), col("s2").as("sa"))
    val n = e.select(col("vec_id").as("neighbor_id"), col("q").as("qb"), col("s2").as("sb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_ppm").desc, col("neighbor_id").asc)
    cand.join(q, "query_id").join(n, "neighbor_id")
      .withColumn("dot", dot)
      .withColumn("cos_ppm", cosPpm)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("query_id", "neighbor_id", "cos_ppm", "rank")
  }

  /** s17: IVF∘SQ8 served off the STORED index — semantically ≡ s15
    * (same probes, same code-scored top-100, same exact rerank;
    * AnnIndexSpec pins the outputs identical at all three SFs), but the
    * cell assignment AND the SQ8 code frame are READ, not recomputed:
    * the index rows carry `codes` (1 byte/dim at scale) and the
    * precomputed code-norm `css` beside the prefix payload, and the
    * range epoch lives in the `_sq8` sidecar next to `_quantizer`. The
    * coarse pass therefore reads partition-pruned thin rows of the
    * probed cells only — s15's one gap (per-query code recomputation
    * re-read every full-width vector) closed by the same
    * storage-for-recompute swap s08 made for s07. The only corpus-grain
    * touch left is the rerank's ~100-vector key-join fetch (PlanSpec
    * pins DPP on the index scan and the corpus-scan count). */
  def annIvfSq8Indexed(s: SparkSession, dir: String): DataFrame =
    annIvfSq8IndexedAt(s, dir, annIndexPath(s, dir))

  /** s17's read path over an EXPLICIT index location (the
    * annIvfIndexedAt pattern — CorpusService serves its maintained
    * artifact through this). Queries encode against the index's own
    * `_sq8` sidecar and probe its `_quantizer`, so serving is always
    * consistent with the epoch that wrote the stored codes. */
  def annIvfSq8IndexedAt(s: SparkSession, dir: String,
                         indexPath: String,
                         dropIds: Option[DataFrame] = None): DataFrame = {
    val idx0 = s.read.parquet(indexPath).filter(col("rn") === 1)
    val idx = dropIds.fold(idx0)(d =>
      idx0.join(d.select(col("vec_id")), Seq("vec_id"), "left_anti"))
    val cents = quantizerOf(s, indexPath)
    val ranges = sidecarOf(s, indexPath, "_sq8")
    val eq = quantized(s, dir).filter(col("vec_id") < 10)
    val cellT = idx.schema(idx.schema.fieldIndex("cell")).dataType
    val probes = imiRank(eq, cents, "vec_id", 5)
      .filter(col("rn") <= 12)
      .select(col("vec_id").as("query_id"),
        col("cent_id").cast(cellT).as("cell"))
    // Query-side codes: encoded at QUERY grain (10 rows) under the
    // sidecar ranges — identical to the stored codes for corpus rows.
    val qc = sq8EncodeWith(eq, ranges)
      .select(col("vec_id").as("query_id"),
        col("vh").as("vha"), col("ss").as("ssa"))
    // Coarse pass: partition-pruned index read; per-row work is one
    // reconstruction zip (codes × broadcast ranges) + one DotI64.
    // Top-100 via the native map-side aggregate (coarse-selection
    // sweep).
    val cand = topKPerGroup(
      idx.join(broadcast(probes), "cell")
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          col("codes"), col("css"))
        .crossJoin(broadcast(ranges))
        .withColumn("vhb", expr(
          """zip_with(codes, zip_with(mns, rs, (m, r) -> named_struct('m', m, 'r', r)),
            |  (k, c) -> 255 * c.m + CAST(k AS BIGINT) * c.r)""".stripMargin))
        .join(broadcast(qc), "query_id")
        .withColumn("adot", DotI64(col("vha"), col("vhb")))
        .withColumn("acos",
          floor(col("adot") / (sqrt(col("ssa")) * sqrt(col("css")))
            * lit(1000000.0) + lit(0.5)).cast("long")),
      "query_id", col("acos"), "neighbor_id", 100)
      .select("query_id", "neighbor_id")
    // Exact rerank at the doubly-pruned grain — the one corpus-grain
    // touch (full neighbor vectors fetched by key join).
    val q = eq.select(col("vec_id").as("query_id"), col("q").as("qa"),
      col("s2").as("sa"))
    val n = quantized(s, dir)
      .select(col("vec_id").as("neighbor_id"), col("q").as("qb"),
        col("s2").as("sb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_ppm").desc, col("neighbor_id").asc)
    cand.join(q, "query_id").join(n, "neighbor_id")
      .withColumn("dot", dot)
      .withColumn("cos_ppm", cosPpm)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("query_id", "neighbor_id", "cos_ppm", "rank")
  }

  /** s21: IVF ∘ PQ served off the STORED index — the "IVF,PQ" layout
    * FAISS deploys at billion scale, completing the serving matrix's
    * last cell: the coarse quantizer prunes CANDIDATES (12 probed
    * cells, s03's dial), the index-resident PQ codes prune BYTES
    * within them (4 ids/vector — 4 bytes at scale), and scoring is
    * textbook ADC with a LOOKUP TABLE: the query's raw subvectors dot
    * every codebook entry ONCE (|Q|·4·≈256 rows, broadcast), and each
    * candidate costs 4 table lookups + 4 adds — no per-candidate
    * vector arithmetic at all, which is PQ's entire point. Exact
    * rerank at top-100 candidate grain (the family tail). Codes,
    * codebooks (`_pq` sidecar), cells, and SQ8 ranges are all frozen
    * per epoch; appends encode under them (s17's contract, applied to
    * the third payload). */
  def annIvfPqIndexed(s: SparkSession, dir: String): DataFrame =
    annIvfPqIndexedAt(s, dir, annIndexPath(s, dir))

  def annIvfPqIndexedAt(s: SparkSession, dir: String,
                        indexPath: String): DataFrame =
    annIvfPqIndexedOver(s, quantized(s, dir),
      quantized(s, dir).filter(col("vec_id") < 10), indexPath,
      excludeSelf = true, k = 5)

  /** The grain-agnostic core of PQ-served ANN (the annIvfIndexedOver
    * pattern for the third payload): `corpus` supplies the exact-rerank
    * vectors, `eq` the ALREADY-QUANTIZED query frame, and the chunk
    * index serves through this directly (CorpusService.chunkTopKFor's
    * `pq` dial — 4 bytes per chunk vector at the coarse pass, the shape
    * a 100 TB chunk store needs). `dropIds` is the tombstone filter. */
  private[graft] def annIvfPqIndexedOver(s: SparkSession, corpus: DataFrame,
                                         eq: DataFrame, indexPath: String,
                                         excludeSelf: Boolean, k: Int,
                                         dropIds: Option[DataFrame] = None)
      : DataFrame = {
    val idx0 = s.read.parquet(indexPath).filter(col("rn") === 1)
    val idx = dropIds.fold(idx0)(d =>
      idx0.join(d.select(col("vec_id")), Seq("vec_id"), "left_anti"))
    val cents = quantizerOf(s, indexPath)
    val books = sidecarOf(s, indexPath, "_pq")
    val cellT = idx.schema(idx.schema.fieldIndex("cell")).dataType
    val probes = imiRank(eq, cents, "vec_id", 5)
      .filter(col("rn") <= 12)
      .select(col("vec_id").as("query_id"),
        col("cent_id").cast(cellT).as("cell"))
    // The ADC lookup table: query subvectors × sidecar codebooks, once.
    val lut = pqSubvectors(eq)
      .select(col("vec_id").as("query_id"), col("sub"), col("qs"))
      .join(broadcast(books), "sub")
      .withColumn("pdot", DotI64(col("qs"), col("cs")))
      .select(col("query_id"), col("sub"), col("cent_id"), col("pdot"))
    // Candidates: partition-pruned thin (cell, vec_id, pq, spq) rows;
    // each candidate's ADC score is 4 broadcast-LUT lookups.
    val hits = idx.join(broadcast(probes), "cell")
    val cand0 = (if (excludeSelf)
        hits.filter(col("vec_id") =!= col("query_id"))
      else hits)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        posexplode(col("pq")), col("spq"))
      .select(col("query_id"), col("neighbor_id"),
        col("pos").as("sub"), col("col").as("cent_id"), col("spq"))
    val qn = eq.select(col("vec_id").as("query_id"), col("s2").as("sa"))
    // ADC top-100 via the native map-side aggregate (coarse-selection
    // sweep).
    val cand = topKPerGroup(
      cand0
        .join(broadcast(lut), Seq("query_id", "sub", "cent_id"))
        .groupBy("query_id", "neighbor_id", "spq")
        .agg(sum(col("pdot")).as("adot"))
        .join(broadcast(qn), "query_id")
        .withColumn("acos",
          floor(col("adot") / (sqrt(col("sa")) * sqrt(col("spq")))
            * lit(1000000.0) + lit(0.5)).cast("long")),
      "query_id", col("acos"), "neighbor_id", 100)
      .select("query_id", "neighbor_id")
    // Exact rerank at the doubly-pruned grain — the one corpus-grain
    // touch (full neighbor vectors fetched by key join).
    val q = eq.select(col("vec_id").as("query_id"), col("q").as("qa"),
      col("s2").as("sa"))
    val n = corpus
      .select(col("vec_id").as("neighbor_id"), col("q").as("qb"),
        col("s2").as("sb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_ppm").desc, col("neighbor_id").asc)
    cand.join(q, "query_id").join(n, "neighbor_id")
      .withColumn("dot", dot)
      .withColumn("cos_ppm", cosPpm)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos_ppm", "rank")
  }

  /** s22: MMR-diversified retrieval (Maximal Marginal Relevance,
    * Carbonell & Goldstein 1998) — the post-retrieval RE-RANKER class
    * the serving family was missing: plain top-k returns five
    * paraphrases of the best hit; MMR greedily selects items maximizing
    * λ·relevance − (1−λ)·max-similarity-to-already-selected (λ = 0.7),
    * so each pick adds information the previous picks lack — the
    * dedup-at-serving-time dual of d05's dedup-at-corpus-time.
    *
    * Exactness: the greedy argmax is inherently sequential, so the 5
    * selection rounds are UNROLLED (the d13 oracle's pattern applied to
    * a query plan): each round is one anti-join (drop selected), one
    * max-aggregation over the pool-internal similarity frame restricted
    * to the selected set, and one per-query argmax window. The MMR
    * score is kept ×10 (7·rel − 3·maxsim, pure BIGINT — division would
    * reintroduce the negative-numerator truncation hazard and changes
    * no ordering), ties by candidate id; both engines compute it
    * bit-identically.
    *
    * Scale shape: the candidate pool is the exact top-20 per query
    * (s01's scan — any s02–s21 retriever drops in; MMR only consumes
    * the pool), the pairwise similarity frame is |Q|·20·19 rows, and
    * every greedy round touches ≤20 rows per query — re-ranking cost
    * is INDEPENDENT of corpus size, the defining property of a
    * post-retrieval stage. */
  def mmrDiversified(s: SparkSession, dir: String): DataFrame = {
    val e = quantized(s, dir)
    val q0 = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("q").as("qa"), col("s2").as("sa"))
    val n = e.select(col("vec_id").as("neighbor_id"), col("q").as("qb"),
      col("s2").as("sb"))
    // Pool top-20 via the native map-side aggregate (coarse-selection
    // sweep: |Q|·|corpus| exact-scored rows, ≤|Q| reducers in window
    // form).
    val pool = topKPerGroup(
      q0.join(n, col("query_id") =!= col("neighbor_id"))
        .withColumn("dot", dot)
        .withColumn("cos_ppm", cosPpm),
      "query_id", col("cos_ppm"), "neighbor_id", 20, "rel")
      .select(col("query_id"), col("neighbor_id").as("cand"), col("rel"))
    mmrSelect(pool, p => poolSimsFrom(p, e))
      .select(col("query_id"), col("cand").as("neighbor_id"),
        col("rel").as("cos_ppm"), col("mmr_rank"))
  }

  /** Pool-internal similarity frame for [[mmrSelect]]: exact pairwise
    * cosine between a pool's candidates, full vectors fetched by key
    * join into the quantized frame `e` — |Q|·N·(N−1) rows for an N-item
    * pool; the re-ranker never touches the corpus beyond this fetch. */
  private[graft] def poolSimsFrom(pool: DataFrame, e: DataFrame): DataFrame =
    pool.select(col("query_id"), col("cand").as("a"))
      .join(pool.select(col("query_id"), col("cand").as("b")), "query_id")
      .filter(col("a") =!= col("b"))
      .join(e.select(col("vec_id").as("a"), col("q").as("qa"),
        col("s2").as("sa")), "a")
      .join(e.select(col("vec_id").as("b"), col("q").as("qb"),
        col("s2").as("sb")), "b")
      .withColumn("dot", dot)
      .withColumn("sim", cosPpm)
      .select("query_id", "a", "b", "sim")

  /** The MMR greedy core at POOL grain, shared by one-shot s22 and the
    * service's diversify dials (CorpusService.diversifiedTopKFor /
    * hybridTopKFor / chunkTopKFor — the re-ranker belongs on the
    * request path): consumes a relevance pool (query_id, cand, rel —
    * ANY retriever's integer-scored top-N drops in) and a builder for
    * its pool-internal similarity frame (query_id, a, b, sim), returns
    * the `k` greedy picks per query as (query_id, cand, rel, mmr_rank),
    * score = 7·rel − 3·max-sim-to-selected (λ = 0.7 kept ×10 in pure
    * BIGINT), ties by cand.
    *
    * Each round's selection is localCheckpoint-ed: round r's plan
    * references the running result, so without materialization the
    * lineage re-executes rounds 1..r−1 inside round r — the CC loop's
    * quadratic-replan trap at query-plan grain (measured 5.5 s → ~2 s
    * for 5 rounds of ≤50-row frames). Every SUPERSEDED checkpoint
    * (pool, sims, each intermediate result) is freed as soon as the
    * next round materializes — only the returned frame's blocks stay
    * resident, so repeated serving calls cannot accumulate blocks.
    *
    * Cost is INDEPENDENT of corpus size — the defining property of a
    * post-retrieval stage: every round touches ≤|pool| rows per query. */
  /** Pool row count below which [[mmrSelect]] MAY collect the pool and
    * run the greedy rounds on the driver — the BpeDriverWordCap
    * pattern at the re-ranker: the rounds' cost is k × fixed stage
    * overhead (every round touches ≤|pool| rows per query), so for
    * serving-sized pools the driver loop replaces 5 checkpointed plan
    * executions with one collect. Above the caps — a batch job
    * re-ranking millions of pools at once, or one query with a huge
    * candidate set — the distributed rounds run as before. Same greedy
    * argmax (score desc, cand asc), same missing-sim-means-0 rule;
    * DiversifySpec pins the two paths row-identical. */
  private[graft] val MmrDriverPoolCap = 100000L

  /** The SECOND driver-route cap: what the route actually collects is
    * the pool-internal ALL-PAIRS similarity frame, whose cardinality is
    * Σ_q |pool_q|·(|pool_q|−1) — quadratic PER QUERY, so a pool-row cap
    * alone guards the wrong axis (one query with 50k candidates is
    * under 100k rows but 2.5G sim rows — a driver OOM). Both caps must
    * hold: ≤1M sim rows is tens of MB as a boxed-tuple map — the real
    * bound on driver heap, stated honestly (round-15 advisory: the
    * "few MB" claim held only for the serving shapes, not the cap). */
  private[graft] val MmrDriverSimsCap = 1000000L

  /** Driver-route eligibility, both axes — factored out so the spec
    * pins the routing decision itself: a single 10k-candidate pool
    * (≈10^8 sims) must go distributed even though its row count is
    * 10% of the pool cap. */
  private[graft] def mmrDriverEligible(poolRows: Long,
                                       simsBound: Long): Boolean =
    poolRows <= MmrDriverPoolCap && simsBound <= MmrDriverSimsCap

  private[graft] def mmrSelect(pool0: DataFrame,
                               simsOf: DataFrame => DataFrame,
                               k: Int = 5): DataFrame = {
    val pool = pool0.localCheckpoint()
    // One tiny agg yields BOTH route gates: total rows and the exact
    // all-pairs sims cardinality Σ n·(n−1) over per-query pool sizes.
    val gate = pool.groupBy("query_id")
      .agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(col("n")), lit(0L)).as("rows"),
        coalesce(sum(col("n") * (col("n") - lit(1L))), lit(0L)).as("sims"))
      .collect()(0)
    if (mmrDriverEligible(gate.getLong(0), gate.getLong(1))) {
      val qcr = pool.select("query_id", "cand", "rel")
      val schema = org.apache.spark.sql.types.StructType(
        qcr.schema.fields :+ org.apache.spark.sql.types.StructField(
          "mmr_rank", org.apache.spark.sql.types.IntegerType, nullable = false))
      val simMap = simsOf(pool).select("query_id", "a", "b", "sim")
        .collect().map { r =>
          (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue,
            r.getAs[Number](2).longValue) -> r.getAs[Number](3).longValue
        }.toMap
      // Original column VALUES ride through untouched (the service
      // dials' id/score types are preserved exactly); the numeric
      // views drive only ordering and sim lookups.
      final case class Cand(row: org.apache.spark.sql.Row,
                            q: Long, c: Long, rel: Long)
      val cands = qcr.collect().map(r => Cand(r,
        r.getAs[Number](0).longValue, r.getAs[Number](1).longValue,
        r.getAs[Number](2).longValue))
      freeCkpt(pool)
      val out = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.spark.sql.Row]
      for ((q, qCands) <- cands.groupBy(_.q)) {
        val remaining = qCands.toBuffer
        val selected = scala.collection.mutable.ArrayBuffer.empty[Cand]
        var r = 1
        while (r <= k && remaining.nonEmpty) {
          val pick =
            if (r == 1) remaining.minBy(c => (-c.rel, c.c))
            else remaining.minBy { c =>
              val defined = selected.flatMap(s => simMap.get((q, c.c, s.c)))
              val maxsim = if (defined.isEmpty) 0L else defined.max
              (-(7L * c.rel - 3L * maxsim), c.c)
            }
          out += org.apache.spark.sql.Row.fromSeq(pick.row.toSeq :+ r)
          remaining -= pick
          selected += pick
          r += 1
        }
      }
      import scala.jdk.CollectionConverters._
      return pool0.sparkSession.createDataFrame(out.asJava, schema)
    }
    mmrSelectFrom(pool, simsOf, k)
  }

  /** The always-distributed greedy rounds — DiversifySpec's independent
    * anchor for the driver-side loop, and the over-cap batch path. */
  private[graft] def mmrSelectDistributed(pool0: DataFrame,
                                          simsOf: DataFrame => DataFrame,
                                          k: Int = 5): DataFrame =
    mmrSelectFrom(pool0.localCheckpoint(), simsOf, k)

  private def mmrSelectFrom(pool: DataFrame,
                            simsOf: DataFrame => DataFrame,
                            k: Int): DataFrame = {
    val sims = simsOf(pool).localCheckpoint()
    val w1 = Window.partitionBy(col("query_id"))
      .orderBy(col("rel").desc, col("cand").asc)
    var result = pool
      .withColumn("rn", row_number().over(w1))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("cand"), col("rel"),
        lit(1).as("mmr_rank"))
      .localCheckpoint()
    for (r <- 2 to k) {
      val remaining = pool.join(result.select("query_id", "cand"),
        Seq("query_id", "cand"), "left_anti")
      val maxsim = sims
        .select(col("query_id"), col("a").as("cand"), col("b"), col("sim"))
        .join(result.select(col("query_id"), col("cand").as("b")),
          Seq("query_id", "b"), "left_semi")
        .groupBy("query_id", "cand")
        .agg(max(col("sim")).as("maxsim"))
      val wk = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("cand").asc)
      val pick = remaining
        .join(maxsim, Seq("query_id", "cand"), "left")
        .withColumn("score",
          lit(7L) * col("rel") - lit(3L) * coalesce(col("maxsim"), lit(0L)))
        .withColumn("rn", row_number().over(wk))
        .filter(col("rn") === 1)
        .select(col("query_id"), col("cand"), col("rel"),
          lit(r).as("mmr_rank"))
      val prev = result
      result = result.unionByName(pick).localCheckpoint()
      freeCkpt(prev)
    }
    freeCkpt(pool)
    freeCkpt(sims)
    result
  }

  /** s16: hybrid retrieval with Reciprocal Rank Fusion — the serving
    * shape modern search actually deploys: a LEXICAL ranker (integer
    * tf·idf over shared tokens, the BM25 family's exact-arithmetic
    * sibling — t10's idiom at retrieval grain) and the VECTOR ranker
    * (s01's exact cosine) each produce a top-20, and the fused score is
    * Σ 1/(60+rank) over the UNION (RRF, Cormack et al.'s k=60), in ppm
    * via integer division so the fusion is exact across engines. A doc
    * found by only one ranker scores that ranker's term alone — RRF's
    * point: lexical recovers exact-term matches embeddings blur, vectors
    * recover paraphrases sharing no tokens.
    *
    * Queries are docs 0–9 under the established doc_id ≡ vec_id
    * convention (s04's join). Determinism: tf, df, and N are integers;
    * idf_ppm = (N·1e6) // df; the lexical score is a BIGINT sum; rank
    * ties break by neighbor id everywhere.
    *
    * Scale shape: the lexical side is a posting-list join at QUERY
    * grain — |Q| tiny, cost Σ_{t ∈ q} df(t), the classic serving cost
    * (production systems bound hot-token df with impact-sorted
    * postings; idf already downweights them to noise here). The vector
    * side is s01's honest exact scan standing in for any s02–s15
    * variant (RRF only consumes ranks, so the ANN family drops in
    * unchanged). Fusion joins two ≤20-row-per-query frames. */
  def hybridRrf(s: SparkSession, dir: String): DataFrame = {
    val e = quantized(s, dir)
    val vec = vecRankExact(e, e.filter(col("vec_id") < 10),
      excludeSelf = true, k = 20)
    val tf = tokRows(s, dir)
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val nn = docs(s, dir).agg(count(lit(1)).as("n_docs"))
    val lex = lexicalRank(
      tf.filter(col("doc_id") < 10).select(col("doc_id").as("query_id"), col("tok")),
      tf, nn)
    rrfFuse(vec, lex)
  }

  /** The exact-cosine vector ranker shared by one-shot s16 and the
    * service's `vectorExact` dial (CorpusService.hybridTopKFor): s01's
    * honest |Q|×n scan over QUANTIZED frames, top-k per query, ties by
    * neighbor id. Exact integer arithmetic end-to-end, so two callers
    * can never drift — which is what lets PostingSpec pin the served
    * hybrid ≡ one-shot s16 row-for-row on this path (the index-served
    * vector dial inherits s07's cell-probe recall instead and is pinned
    * by an overlap floor, the AnnRecallSpec idiom). */
  private[graft] def vecRankExact(corpus: DataFrame, queries: DataFrame,
                                  excludeSelf: Boolean, k: Int): DataFrame = {
    val q = queries
      .select(col("vec_id").as("query_id"), col("q").as("qa"), col("s2").as("sa"))
    val n = corpus
      .select(col("vec_id").as("neighbor_id"), col("q").as("qb"), col("s2").as("sb"))
    // Top-k via the native map-side aggregate (coarse-selection sweep:
    // |Q|·|corpus| exact-scored rows, ≤|Q| reducers in window form).
    topKPerGroup(
      (if (excludeSelf) q.join(n, col("query_id") =!= col("neighbor_id"))
       else q.crossJoin(n))
        .withColumn("dot", dot)
        .withColumn("cos_ppm", cosPpm),
      "query_id", col("cos_ppm"), "neighbor_id", k, "cos_ppm", "rank_v")
      .select("query_id", "neighbor_id", "cos_ppm", "rank_v")
  }

  /** s19: BM25-family lexical ranking — Okapi's two ranking
    * innovations over s16's raw tf·idf, in exact ppm-integer
    * arithmetic: tf SATURATION (k1 = 1.2 — a term's contribution is
    * bounded as tf grows, so a 100-occurrence spam term cannot drown
    * ten distinct matches) and LENGTH NORMALIZATION (b = 0.75 — a
    * long document's tf is discounted toward the corpus-average
    * length, so verbosity is not relevance). The idf factor is the
    * engine's reciprocal-df form (N·1e6 // df) rather than the
    * textbook ln((N−df+.5)/(df+.5)): ln() is libm-dependent in its
    * last ulp, which breaks bit-exact cross-engine oracles, and the
    * reciprocal form shares log-idf's monotone direction — the
    * saturation/normalization behavior, which is what BM25 adds, is
    * preserved exactly.
    *
    * All arithmetic is staged integer division (the idiv idiom, each
    * numerator < 2^53 by construction — the idf·sat product is split
    * (idf//1000)·sat//1000 precisely to stay inside idiv's exact
    * range at 100× this corpus), identical operation-for-operation in
    * the DuckDB twin. Queries are docs 0–9 (the s16 convention);
    * top-10 per query, ties by neighbor id.
    *
    * Scale shape: s16's lexical cost exactly — a posting join at query
    * grain (Σ df over query tokens; the dfCapPpm dial composes
    * unchanged), one |docs|-grain length frame joined at candidate
    * grain, the one-row totals broadcast. Rank-only consumers (RRF)
    * can swap this in for lexicalRank unchanged. */
  def bm25TopK(s: SparkSession, dir: String): DataFrame = {
    val tf = tokRows(s, dir)
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    bm25Rank(
      tf.filter(col("doc_id") < 10)
        .select(col("doc_id").as("query_id"), col("tok")),
      tf)
  }

  /** The BM25 scoring core at posting grain, shared by one-shot s19
    * and the service's posting-table path (CorpusService.hybridTopKFor
    * with `bm25 = true`): everything — document lengths, totals, df —
    * derives from the `tf` posting frame itself (Σ tf per doc IS the
    * token count), so the maintained posting log serves BM25 with no
    * corpus re-tokenization. The df cap and self-exclusion dials are
    * lexicalRank's, applied identically (the cap filters before the
    * posting join). */
  private[graft] def bm25Rank(qtoks: DataFrame, tf: DataFrame,
                              dfCapPpm: Long = 1000000L,
                              excludeSelf: Boolean = true,
                              k: Int = 10,
                              selfOf: org.apache.spark.sql.Column =>
                                org.apache.spark.sql.Column = identity)
      : DataFrame = {
    val dlen = tf.groupBy("doc_id")
      .agg(sum(col("tf")).cast("long").as("dlen"))
    val tot = dlen.agg(sum("dlen").cast("long").as("total_toks"),
      count(lit(1)).as("n_docs"))
    val dfx = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(tot))
      .filter(col("df") * lit(1000000L) <= lit(dfCapPpm) * col("n_docs"))
    val hits = qtoks
      .join(dfx, "tok")
      .join(tf.select(col("doc_id").as("neighbor_id"), col("tok"), col("tf")), "tok")
    // `selfOf` maps a neighbor key to the identity the query id lives
    // in — identity at doc grain; the packed-id doc extractor
    // (shiftright 12) when `tf` is CHUNK-grain postings and "self"
    // means the query's own document.
    (if (excludeSelf) hits.filter(selfOf(col("neighbor_id")) =!= col("query_id"))
     else hits)
      .join(dlen.select(col("doc_id").as("neighbor_id"), col("dlen")),
        "neighbor_id")
      .withColumn("idf_ppm", ppm(col("n_docs"), col("df")))
      .withColumn("sat_ppm", idiv(
        col("tf") * lit(2200000L) * lit(1000000L),
        col("tf") * lit(1000000L) + idiv(
          lit(1200000L) * (lit(250000L) + idiv(
            lit(750000L) * idiv(
              col("dlen") * col("n_docs") * lit(1000000L),
              col("total_toks")),
            lit(1000000L))),
          lit(1000000L))))
      .groupBy("query_id", "neighbor_id")
      .agg(sum(idiv(idiv(col("idf_ppm"), lit(1000L)) * col("sat_ppm"),
        lit(1000L))).as("bm25_ppm"))
      // Top-k via the native map-side aggregate: per-query candidates
      // are Σ df over query tokens — corpus-grain for common tokens —
      // and the window form funneled them through ≤|Q| reducers.
      .transform(topKPerGroup(_, "query_id", col("bm25_ppm"),
        "neighbor_id", k, "bm25_ppm", "rank"))
      .select("query_id", "neighbor_id", "bm25_ppm", "rank")
  }

  /** The lexical ranker shared by one-shot s16 and the service's
    * posting-table serving path (streaming.PostingTable /
    * CorpusService.hybridTopKFor): integer tf·idf over shared tokens —
    * score(q, d) = Σ_{t ∈ q ∩ d} tf_d(t) · ((N·1e6) // df(t)) — top-20
    * per query, ties by neighbor id. `qtoks` is the (query_id, tok)
    * DISTINCT token set of each query; `tf` the (doc_id, tok, tf)
    * posting rows (recomputed by s16, READ from the maintained log by
    * the service); `nn` the one-row corpus count.
    *
    * `dfCapPpm` is the hot-token dial: tokens whose df exceeds
    * dfCapPpm/1e6 of the corpus are dropped BEFORE the posting join.
    * The join's cost is Σ_{t ∈ q} df(t) — one stop-word-grade token
    * (df ≈ N) makes a query's candidate set the whole corpus, the
    * lexical twin of the d03 hot bucket — while its score weight,
    * (N·1e6) // df ≈ 1e6, is ~N/2× below a df=2 token's, so dropping
    * it is the impact-truncation production posting lists apply.
    * 1e6 (default here) = uncapped, the oracle-exact form;
    * PostingSpec pins top-20 unchanged on this corpus at the service's
    * default cap and a planted-hot-token candidate shrink. */
  private[graft] def lexicalRank(qtoks: DataFrame, tf: DataFrame,
                                 nn: DataFrame,
                                 dfCapPpm: Long = 1000000L,
                                 excludeSelf: Boolean = true): DataFrame = {
    val dfx0 = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    // The cap filters the |q-tokens|-grain frame BEFORE postings join
    // in (n_docs rides the broadcast one-row frame).
    val dfx = dfx0.crossJoin(broadcast(nn))
      .filter(col("df") * lit(1000000L) <= lit(dfCapPpm) * col("n_docs"))
    val hits = qtoks
      .join(dfx, "tok")
      .join(tf.select(col("doc_id").as("neighbor_id"), col("tok"), col("tf")), "tok")
    // excludeSelf mirrors the ANN serving contract: on for corpus-row
    // queries; off for external ids, where an accidental numeric
    // collision must not drop a true lexical match.
    (if (excludeSelf) hits.filter(col("neighbor_id") =!= col("query_id"))
     else hits)
      .groupBy("query_id", "neighbor_id")
      .agg(sum(col("tf") * ppm(col("n_docs"), col("df"))).as("lex_score"))
      // Top-20 via the native map-side aggregate (bm25Rank's rationale).
      .transform(topKPerGroup(_, "query_id", col("lex_score"),
        "neighbor_id", 20, "__lex", "rank_l"))
      .select("query_id", "neighbor_id", "rank_l")
  }

  /** Reciprocal Rank Fusion over the two rankers' top-20s (Cormack et
    * al.'s k=60, in exact ppm integers) — shared by s16 and the served
    * hybrid so fusion can never drift between them. */
  private[graft] def rrfFuse(vec: DataFrame, lex: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_ppm").desc, col("neighbor_id").asc)
    vec.join(lex, Seq("query_id", "neighbor_id"), "full_outer")
      .withColumn("rrf_ppm",
        coalesce(idiv(lit(1000000L), lit(60L) + col("rank_v")), lit(0L)) +
        coalesce(idiv(lit(1000000L), lit(60L) + col("rank_l")), lit(0L)))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select("query_id", "neighbor_id", "rrf_ppm", "rank")
  }

  /** s14: k-means refinement of the coarse quantizer — two Lloyd
    * iterations over the hash-sampled √n seeds ([[coarseCentroids]]),
    * the offline TRAINING job behind every IVF consumer (s03/s05/s07/
    * s08 assign against a quantizer; this is where a production system
    * makes that quantizer good instead of merely deterministic —
    * Lloyd's alternation of assign/recenter is the k-means training
    * FAISS et al. run before building the inverted file).
    *
    * Exactness across engines: a Lloyd recenter is a MEAN, but cosine
    * assignment is scale-invariant, so the centroid is kept as the
    * exact integer component SUM — no division ever happens and every
    * accumulated quantity is a BIGINT (float sums would make the
    * result depend on accumulation order, which no distributed engine
    * guarantees). Floats appear only in the final sqrt/div/floor on
    * identical integer inputs (the cosPpm idiom). Overflow headroom:
    * a component sum is ≤ |members|·1e6 and the centroid self-dot is
    * ≤ 64·(|members|·1e6)² — at a million members per cell that is
    * ~6e25, past 2^63, so at that scale the sum must be right-shifted
    * before the self-dot (scale-invariance makes the shift free);
    * here members/cell ≈ √n keeps it ≤ ~1e18 through sf1.
    *
    * Degenerate cells: a cell whose members cancel to the zero vector
    * has no cosine direction — filtered (sc > 0) before it can emit
    * NaN scores; a cell that loses all members in round 1 drops out
    * (standard Lloyd empty-cell behavior; the seed itself assigns to
    * its own cell at cos 1e6, so cells start non-empty).
    *
    * Scale shape: each iteration is one broadcast-centroid map over
    * the corpus (n·k integer dots at k = √n — this operator's own
    * n^1.5 regime: its OUTPUT is the √n-cluster decomposition, so the
    * cost is the ask) + one (cell, i)-grain hash agg — no corpus
    * self-join anywhere. The √n frame broadcasts to ~10⁹ vectors
    * (~0.25 GB at 64 dims); past that this clustering grain is the
    * wrong tool, and the IVF serving family does NOT depend on it —
    * it trains 2·∜n sub-codebooks per [[refinedCentroids]].
    * Output: the refined centroids as exact component sums at
    * (cent_id, i) grain with the final member count. */
  def kmeansRefine(s: SparkSession, dir: String): DataFrame =
    kmeansSums(s, dir)
      .select(col("cell").as("cent_id"), (col("pos") + 1).cast("int").as("i"),
        col("csum"), col("n_members"))

  /** The round-2 assignment's exact component sums at (cell, pos)
    * grain. n_members falls out of the same aggregation: every member
    * contributes exactly one row per dimension, so count(*) at
    * (cell, pos) grain IS the cell's member count — one hash agg, no
    * second consumption of the assignment subtree (which a separate
    * members join would re-plan and re-execute). */
  private[queries] def kmeansSums(s: SparkSession, dir: String): DataFrame = {
    val e = quantized(s, dir)
    def assign(cents: DataFrame): DataFrame =
      centroidRank(e, cents, "vec_id").filter(col("rn") === 1)
        .select(col("vec_id"), col("cent_id").as("cell"), col("q"))
    // Exact integer component sums per cell, folded back to the
    // (cent_id, qc, sc) centroid-frame shape assign() consumes.
    def recenter(a: DataFrame): DataFrame =
      a.select(col("cell"), posexplode(col("q")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum("col").as("csum"))
        .groupBy("cell")
        .agg(expr("array_sort(collect_list(named_struct('pos', pos, 'csum', csum)))")
          .as("ps"))
        .select(col("cell").as("cent_id"),
          expr("transform(ps, x -> x.csum)").as("qc"))
        .withColumn("sc", DotI64(col("qc"), col("qc")))
        .filter(col("sc") > 0)
    val a2 = assign(recenter(assign(coarseCentroids(s, dir, e))))
    a2.select(col("cell"), posexplode(col("q")))
      .groupBy(col("cell"), col("pos"))
      .agg(sum("col").as("csum"), count(lit(1)).as("n_members"))
  }

  /** Lloyd-REFINED sub-codebooks in the (sub, cent_id, qc, sc) frame
    * shape every quantizer consumer reads ([[trainedCentroids]]'s
    * contract) — what `StreamingSemanticDedup.trainQuantizer(refine =
    * true)` writes, so the streaming semantic-dedup path can probe
    * trained cells instead of raw hash-sampled seeds. s14's two Lloyd
    * iterations applied PER SUBSPACE (the k-means-per-half training
    * FAISS runs for an IMI quantizer): each half of the corpus refines
    * its own ∜n-entry codebook independently, exact integer component
    * sums (cosine assignment is scale-invariant, so no division ever
    * happens), degenerate zero-sum entries filtered exactly as in
    * s14's loop. Per-iteration cost is n·2·∜n half-width dots — the
    * trainer rides the same complexity class as assignment itself. */
  private[graft] def refinedCentroids(s: SparkSession, dir: String): DataFrame = {
    val e = quantized(s, dir)
    val halves = e.select(col("vec_id"),
        posexplode(array(expr(sliceH0), expr(sliceH1))).as(Seq("sub", "qh")))
      .withColumn("sh", DotI64(col("qh"), col("qh")))
    def assign(books: DataFrame): DataFrame =
      halves.join(broadcast(books), "sub")
        .withColumn("hdot", DotI64(col("qh"), col("qc")))
        .withColumn("hcos",
          floor(col("hdot") / (sqrt(col("sh")) * sqrt(col("sc")))
            * lit(1000000.0) + lit(0.5)).cast("long"))
        .withColumn("hr", row_number().over(
          Window.partitionBy(col("vec_id"), col("sub"))
            .orderBy(col("hcos").desc, col("cent_id").asc)))
        .filter(col("hr") === 1)
        .select(col("sub"), col("cent_id"), col("qh"))
    def recenter(a: DataFrame): DataFrame =
      a.select(col("sub"), col("cent_id"), posexplode(col("qh")))
        .groupBy(col("sub"), col("cent_id"), col("pos"))
        .agg(sum("col").as("csum"))
        .groupBy("sub", "cent_id")
        .agg(expr("array_sort(collect_list(named_struct('pos', pos, 'csum', csum)))")
          .as("ps"))
        .select(col("sub"), col("cent_id"),
          expr("transform(ps, x -> x.csum)").as("qc"))
        .withColumn("sc", DotI64(col("qc"), col("qc")))
        .filter(col("sc") > 0)
    recenter(assign(recenter(assign(coarseCodebooks(s, dir, e)))))
  }

  /** t24: cluster-balanced corpus subsampling — cap each IVF cell at a
    * fixed budget (8 here), members ranked by the portable id hash
    * (deterministic pseudo-random, so the kept set is a stable sample,
    * not a prefix of ingestion order). This is the diversity-preserving
    * pruning step of the SemDeDup/DoReMi family: over-represented modes
    * (a crawl that is 40% one template) are clipped to the same budget
    * as rare modes, so the downstream token mix covers the embedding
    * space instead of echoing the crawl distribution.
    *
    * Scale shape: one broadcast-centroid assignment map over the corpus
    * (no shuffle), then a map-side per-cell 8-sample aggregation —
    * never a global sort, and the exchange carries ≤8 rows per cell.
    * The cap is the dial; rank is exposed so a consumer can re-cut to
    * any budget ≤ 8 without re-assigning. */
  def clusterSample(s: SparkSession, dir: String): DataFrame = {
    val e = quantized(s, dir)
    val assigned = imiRankB(e, coarseBooks(s, dir, e), "vec_id", 1)
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cent_id").as("cell"))
    // Per-cell 8-sample via the native map-side MinKLongs aggregate:
    // the window form shuffled every assignment row into ~√n cell
    // reducers; the aggregate keeps ≤8 per cell per map task
    // (ascending (h32, id) is its native order — no negation).
    assigned.groupBy("cell")
      .agg(graft.functions.MinKLongs(
        h32(col("vec_id").cast("string")), col("vec_id"), 8).as("__s"))
      .select(col("cell"), posexplode(col("__s")).as(Seq("__pos", "__e")))
      .select(col("cell"), col("__e.id").as("vec_id"),
        (col("__pos") + 1).cast("int").as("smp_rank"))
  }

  /** t25: fixed-window document chunking — 64-token windows on a
    * 48-token stride (16-token overlap), the grain an embedding /
    * retrieval pipeline actually encodes (models embed chunks, not
    * documents; the overlap keeps boundary-spanning context in at
    * least one chunk). Emits one row per chunk with its exact token
    * count and a content hash — the chunk table IS the unit of work
    * for the embedding job, so its id scheme (doc_id, chunk_id) must
    * be deterministic and re-derivable, which `k·48` start offsets
    * are and byte offsets into re-encoded text are not.
    *
    * Scale shape: a pure per-row map (split + transform + explode) —
    * no shuffle, no state; fan-out is Σ ceil(tokens/48) rows, linear
    * in corpus tokens. At 100 TB this pipelines inside one stage and
    * the chunk hash doubles as the join key for chunk-grain dedup. */
  def chunkDocs(s: SparkSession, dir: String): DataFrame =
    chunksOfDocs(docs(s, dir))

  /** t25 at frame grain (expects doc_id, text) so the incremental
    * maintenance path (streaming.ChunkTable) chunks a delta batch with
    * the identical definition — the shinglesOfDocs pattern.
    *
    * The window sequence stops once the PREVIOUS 64-token window covers
    * the tail: a naive ceil(n/48) tiling emits, for n mod 48 in 1..16
    * (n > 48), a final chunk wholly contained in the prior window —
    * pure embedding-workload inflation, every token already encoded.
    * greatest((n-17) div 48, 0) is the largest k whose window adds at
    * least one new token (start k·48+1 ≤ n−16 ⇔ k ≤ (n−17)/48); the
    * greatest() also keeps the n < 17 numerator non-negative, where
    * Spark's truncating div and DuckDB's floor `//` would diverge. The
    * last chunk then holds 17–64 tokens, always inside its window. */
  private[graft] def chunksOfDocs(d: DataFrame): DataFrame =
    d.select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), col("t"), size(col("t")).as("n"))
      .select(col("doc_id"), col("n"),
        explode(expr(
          """transform(sequence(0, greatest((n - 17) div 48, 0)),
            |  k -> named_struct(
            |    'chunk_id', CAST(k AS INT),
            |    'chunk_hash', md5(concat_ws(' ', slice(t, k * 48 + 1, 64)))))"""
            .stripMargin)).as("c"))
      .select(col("doc_id"), col("c.chunk_id").as("chunk_id"),
        least(lit(64L), col("n") - col("chunk_id") * lit(48L)).cast("long")
          .as("n_tokens"),
        col("c.chunk_hash").as("chunk_hash"))

  /** d15: chunk-grain exact dedup — d01's hash dedup at t25's chunk
    * grain, the retrieval/embedding unit. Document-grain dedup (d01)
    * misses boilerplate chunks embedded in otherwise-distinct
    * documents; d11 finds repeated substrings at EVERY 30-token offset
    * (the memorization audit); d15 detects repetition at exactly the
    * grain the embedding job pays for, so its hit list is directly the
    * set of redundant vectors a RAG corpus can drop before encoding
    * (the chunk hash t25 emits doubles as the dedup key — no second
    * tokenization pass at scale, the chunk table is the input). One
    * hash-shuffle groupBy at chunk grain, d01's cost class. */
  def chunkDupes(s: SparkSession, dir: String): DataFrame =
    chunkDocs(s, dir)
      .groupBy("chunk_hash")
      .agg(countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("n_chunks"),
        min("doc_id").as("first_doc"))
      .filter(col("n_docs") >= 2)

  /** Chunk-grain embedding derivation — RAG serving indexes CHUNKS, not
    * documents, and the testdata ships no chunk vectors, so the chunk
    * table (t25) gets deterministic integer vectors derived from chunk
    * content the way the fixtures give documents theirs: dim i of a
    * chunk is h32(chunk_hash ‖ ':' ‖ i) % 2001 − 1000 — a 64-dim
    * integer vector both engines compute bit-identically (the md5-hex
    * h32 idiom), already at the ppm-integer grain the ANN chain's exact
    * arithmetic wants. vec_id packs (doc_id, chunk_id) as
    * doc_id·4096 + chunk_id: deterministic, reversible, and ordered —
    * chunk_id < 4096 covers ~196k-token documents at the 48 stride.
    *
    * Scale shape: a pure per-row map over the chunk table (t25's
    * zero-shuffle grain) — the chunk-embedding job at 100 TB pipelines
    * inside the chunking stage; the derived frame is exactly what
    * [[buildAnnIndexFrom]] indexes at chunk grain (AnnIndexSpec). */
  private[graft] def chunkVectors(s: SparkSession, dir: String): DataFrame =
    chunkVectorsOf(chunkDocs(s, dir))

  /** The derivation at frame grain (expects doc_id, chunk_id,
    * chunk_hash) so a maintained chunk table (streaming.ChunkTable)
    * embeds its delta with the identical definition. */
  private[graft] def chunkVectorsOf(chunks: DataFrame): DataFrame =
    chunks
      .select((col("doc_id") * 4096 + col("chunk_id")).as("vec_id"),
        col("doc_id"), col("chunk_hash"))
      .withColumn("q", expr(
        """transform(sequence(1, 64),
          |  i -> CAST(conv(substring(md5(concat(chunk_hash, ':',
          |         CAST(i AS STRING))), 1, 8), 16, 10) AS BIGINT)
          |       % 2001 - 1000)""".stripMargin))
      .withColumn("s2", DotI64(col("q"), col("q")))
      .select("vec_id", "doc_id", "q", "s2")

  /** s18: chunk-grain ANN with doc-level rollup — the late-interaction
    * retrieval shape (ColBERT's MaxSim family): each query document's
    * CHUNKS score against every corpus chunk, and a candidate document's
    * score is its best-matching chunk (max-chunk rollup), so a long
    * document matching on one tight passage ranks above one diffusely
    * similar everywhere — the property chunk-grain retrieval exists to
    * buy. Queries are docs 0–9's chunks; output is top-5 DOCS per query
    * doc by max chunk cosine, ties by neighbor id.
    *
    * This registered form is the exact baseline (brute-force chunk
    * pairs at query grain — |chunks(q)|×|corpus chunks|, the s01
    * posture); the scale path builds the stored IVF index at chunk
    * grain over the SAME [[chunkVectors]] frame and serves through the
    * partition-pruned read (AnnIndexSpec pins chunk-grain build, append
    * under frozen epochs, and twin-first serving). The rollup is one
    * hash agg at (query doc, neighbor doc) grain. */
  def chunkAnn(s: SparkSession, dir: String): DataFrame = {
    val cv = chunkVectors(s, dir)
    val q = cv.filter(col("doc_id") < 10)
      .select(col("doc_id").as("query_id"), col("q").as("qa"), col("s2").as("sa"))
    val n = cv.select(col("doc_id").as("neighbor_id"),
      col("q").as("qb"), col("s2").as("sb"))
    q.join(n, col("query_id") =!= col("neighbor_id"))
      .withColumn("dot", dot)
      .withColumn("cos_ppm", cosPpm)
      .groupBy("query_id", "neighbor_id")
      .agg(max(col("cos_ppm")).as("max_cos_ppm"))
      // Top-5 via the native map-side aggregate (coarse-selection
      // sweep: the MaxSim rollup is |Q|·|docs| rows, ≤|Q| reducers in
      // window form).
      .transform(topKPerGroup(_, "query_id", col("max_cos_ppm"),
        "neighbor_id", 5, "max_cos_ppm", "rank"))
      .select("query_id", "neighbor_id", "max_cos_ppm", "rank")
  }

  /** Token rows at CHUNK grain — t25's overlapping tiling applied to
    * the token stream: chunk k of a doc covers tokens
    * [k·48+1, k·48+64], so a token in an overlap region posts to BOTH
    * covering chunks (the inverted file must find a phrase wherever its
    * window lands). Keyed by the PACKED chunk id under the `doc_id`
    * column name so the doc-grain lexical rankers (bm25Rank /
    * lexicalRank) consume it verbatim — they are grain-agnostic over
    * the posting key. */
  private[graft] def chunkTokens(d: DataFrame): DataFrame =
    d.select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), col("t"), size(col("t")).as("n"))
      .select(col("doc_id"),
        explode(expr(
          """transform(sequence(0, greatest((n - 17) div 48, 0)),
            |  k -> named_struct('cid', CAST(k AS INT),
            |                    'toks', slice(t, k * 48 + 1, 64)))"""
            .stripMargin)).as("c"))
      .select((col("doc_id") * 4096 + col("c.cid")).as("doc_id"),
        explode(col("c.toks")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))

  /** The chunk-grain VECTOR ranker shared by one-shot s23 and the
    * served chunk hybrid's exact dial: every corpus chunk scores
    * against each query's chunk set, a chunk's relevance is its best
    * match over the query's chunks (the query-side half of MaxSim —
    * a multi-passage query matches a chunk wherever ANY of its
    * passages does), top-`k` chunks per query, ties by chunk id.
    * `queryCh` is (query_id, q, s2) at query-CHUNK grain (one row per
    * chunk of each query); `corpusCv` is the (vec_id, doc_id, q, s2)
    * chunk-vector frame. `excludeSelfDoc` drops the query's own
    * document's chunks (corpus-parity queries). */
  private[graft] def chunkVecRank(corpusCv: DataFrame, queryCh: DataFrame,
                                  excludeSelfDoc: Boolean,
                                  k: Int = 20): DataFrame = {
    val q = queryCh
      .select(col("query_id"), col("q").as("qa"), col("s2").as("sa"))
    val n = corpusCv.select(col("vec_id").as("neighbor_id"),
      col("doc_id").as("nd"), col("q").as("qb"), col("s2").as("sb"))
    (if (excludeSelfDoc) q.join(n, col("query_id") =!= col("nd"))
     else q.crossJoin(n))
      .withColumn("dot", dot)
      .withColumn("cos_ppm", cosPpm)
      .groupBy("query_id", "neighbor_id")
      .agg(max(col("cos_ppm")).as("best_cos_ppm"))
      // Top-k via the native map-side aggregate (coarse-selection
      // sweep: the MaxSim rollup is |Q|·|chunks| rows, ≤|Q| reducers
      // in window form).
      .transform(topKPerGroup(_, "query_id", col("best_cos_ppm"),
        "neighbor_id", k, "__best", "rank_v"))
      .select("query_id", "neighbor_id", "rank_v")
  }

  /** s23: chunk-grain HYBRID retrieval — the late-interaction fusion a
    * RAG stack actually runs, closing the grain gap between s16/s19
    * (doc-grain lexical ∘ doc-grain vector) and s18 (chunk-grain vector
    * alone): candidates are CHUNKS, the vector ranker is s18's MaxSim
    * restricted to the query side ([[chunkVecRank]] — a chunk's score
    * is its best match over the query's chunks), the lexical ranker is
    * s19's BM25 over the chunk-grain posting rows ([[chunkTokens]] —
    * document frequency, length normalization, and totals all at chunk
    * grain, where "document" IS the retrieval unit), and the two rank
    * lists fuse by the shared [[rrfFuse]]. Lexical recovers the
    * verbatim phrase whose embedding the hash blurs; vectors recover
    * the paraphrase sharing no tokens; the fused winner is the chunk a
    * reader would actually cite. Queries are docs 0–9 (their full
    * token sets and their chunk vectors), own-document chunks
    * excluded; output is top-10 CHUNKS per query by fused score.
    *
    * Scale shape: the vector side is the honest exact baseline any
    * s18-family index form drops into (rank-only fusion — the served
    * twin probes the stored chunk index instead); the lexical side is
    * one posting join at query grain (Σ df over query tokens, the
    * s16/s19 serving cost, over a posting table ~1.33× the doc-grain
    * one — overlap regions post twice); fusion joins two ≤20-row
    * frames per query. */
  def chunkHybrid(s: SparkSession, dir: String): DataFrame = {
    val cv = chunkVectors(s, dir)
    val vec = chunkVecRank(cv,
      cv.filter(col("doc_id") < 10)
        .select(col("doc_id").as("query_id"), col("q"), col("s2")),
      excludeSelfDoc = true)
    val ctf = chunkTokens(docs(s, dir))
    val qtoks = tokRows(s, dir)
      .filter(col("doc_id") < 10)
      .select(col("doc_id").as("query_id"), col("tok"))
      .distinct()
    val lex = bm25Rank(qtoks, ctf, excludeSelf = true, k = 20,
        selfOf = shiftright(_, 12))
      .select(col("query_id"), col("neighbor_id"), col("rank").as("rank_l"))
    rrfFuse(vec, lex)
  }

  /** Connected components over an undirected pair list via min-label
    * propagation run to FIXPOINT — the BSP shape GraphFrames/Pregel would
    * run at scale, expressed as plain shuffles: each round is one
    * equi-join + one min-aggregation.
    *
    * Convergence, not a fixed unroll: labels only ever decrease, so the
    * global label sum strictly decreases until the fixpoint — one scalar
    * per round decides termination (no row-level diff job). Each round's
    * labels are eagerly localCheckpoint-ed: without materialization,
    * lineage re-expands the whole prefix every round and a
    * join-per-round loop goes quadratic.
    *
    * The loop runs at its OWN partitioning, derived from the measured
    * node count, not the session's shuffle.partitions: the label/edge
    * frames are key-grain (|distinct doc ids in pairs| — orders of
    * magnitude below fact grain), and every round is a full stage-set
    * whose cost at that size is pure task scheduling. At 32 session
    * partitions a round on a few hundred labels measured 2–3 s of
    * overhead; collapsed to the size-appropriate count it is ~0.2 s,
    * while a billion-node graph at 100 TB still fans out. The
    * repartition column matches the groupBy key, so the explicit
    * exchange REPLACES the aggregation's (no extra shuffle).
    * `maxRounds` bounds the worst case (with the ramp backstop at hop
    * cap 3, rounds needed ≤ ⌈component diameter / 3⌉ + 3). */
  /** Frees a localCheckpoint's materialized blocks (df.unpersist is a
    * CacheManager no-op for them; the blocks belong to the LogicalRDD).
    * Walks EVERY LogicalRDD in the plan, not just the first: a caller
    * that checkpoints a multi-source frame (a union of two checkpointed
    * inputs, say) would otherwise leak every RDD after the first. */
  private[graft] def freeCkpt(df: DataFrame): Unit =
    df.queryExecution.logical.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(_.unpersist(blocking = false))

  /** RDD ids of checkpoints that are APPLICATION-SCOPED memo state
    * (clusterLabels today): [[freeCkptFresh]] must never free them —
    * their memo would hand later consumers a frame whose blocks are
    * gone and whose lineage is truncated (unrecoverable). */
  private val pinnedCkpts =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  private[graft] def pinCkpt(df: DataFrame): DataFrame = {
    df.queryExecution.logical.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.foreach(pinnedCkpts.add(_))
    df
  }

  private[graft] def unpinCkpt(df: DataFrame): Unit =
    df.queryExecution.logical.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.foreach(pinnedCkpts.remove(_))

  /** Free every PER-INVOCATION checkpoint in a frame's plan, skipping
    * pinned memo state — the release a caller runs once its terminal
    * action over the frame has completed. This is the checkpoint
    * LIFECYCLE for the serving path: eager localCheckpoints (q36's
    * session frame, the interval join's hot census, dsirKeepTop's
    * scored frame, the CC loop's final labels) otherwise pin block-
    * manager memory until driver GC happens to collect the RDD handle
    * — benign in a one-shot batch job, a slow leak in an always-on
    * service or a bench loop. After the release the frame must not be
    * re-executed (its checkpointed sub-plans cannot recompute). */
  private[graft] def freeCkptFresh(df: DataFrame): Unit =
    df.queryExecution.logical.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.filterNot(r => pinnedCkpts.contains(r.id))
      .foreach(_.unpersist(blocking = false))

  /** Pair-row count below which [[connectedComponents]] COLLECTS the
    * pair frame and labels it with a driver-side union-find — the
    * BpeDriverWordCap / MmrDriverPoolCap pattern at the cluster
    * resolver, and the d13 verdict item it closes: the fixpoint's cost
    * is rounds × fixed stage overhead (~0.15-0.2 s scheduling +
    * planning per round at ANY row count) over a frame that is
    * COLLISION-grain — d13's sf0.1 graph is 1828 nodes / ~2.6k edges,
    * yet paid ~6 checkpointed rounds ≈ 3 s. Under the cap one bounded
    * collect (≤ 2×8 B × 1M ≈ 16 MB) replaces the whole loop; above it
    * — a pair log at true 100 TB collision scale — the distributed
    * rounds run as before, unchanged. Same labels by construction
    * (component minimum: the union-find attaches the larger root under
    * the smaller, so every root IS its component's min); RanksSpec
    * pins local ≡ distributed on path/cycle/matching/random graphs. */
  private[graft] val CcDriverEdgeCap = 1000000

  def connectedComponents(pairs: DataFrame, maxRounds: Int = 50): DataFrame = {
    val p = pairs.select(col("doc_a"), col("doc_b"))
    val allLong = p.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    if (allLong) {
      // One bounded job: cap+1 rows decide the route AND carry the data
      // (a separate count would execute the source chain twice for
      // under-cap callers, whose frames are typically checkpointed but
      // need not be). OVER-CAP cost: the probe rows are discarded and
      // the distributed loop re-executes the pair source — bounded on
      // both ends: the probe is an executeTake (partitions scanned
      // incrementally, stopping at cap+1 rows, never a full-source
      // materialization), and every production caller hands in a
      // materialized frame (clusterPairs localCheckpoints; the corpus
      // service hands its checkpointed pair log), so the re-execution
      // is a block read. A raw over-cap caller pays one extra partial
      // scan of its source — the price of not double-executing every
      // UNDER-cap caller, which is the common case by 1M-fold margin.
      val head = p.limit(CcDriverEdgeCap + 1).collect()
      // A null endpoint (malformed pair row) falls through to the
      // distributed path rather than NPE at getLong — route choice
      // must never change what inputs are accepted.
      if (head.length <= CcDriverEdgeCap &&
          head.forall(r => !r.isNullAt(0) && !r.isNullAt(1))) {
        val s = pairs.sparkSession
        import s.implicits._
        val labels = ccLocal(head.map(r => (r.getLong(0), r.getLong(1))))
        // Parallelized, not toDF-on-Seq: a LocalRelation embeds every
        // row INSIDE the logical plan (a near-cap graph is ~2M label
        // rows — plan-walk and explain cost on every consumer); an
        // RDD-backed frame keeps the plan a constant-size LogicalRDD.
        val parts = math.max(1, math.min(32, labels.length / 100000))
        return s.sparkContext.parallelize(labels.toIndexedSeq, parts)
          .toDF("doc_id", "cluster_id")
      }
    }
    connectedComponentsDistributed(pairs, maxRounds)
  }

  /** Driver-side union-find with min-root unions and iterative path
    * compression: the root of every tree is its component's minimum id
    * (unions always attach the larger root beneath the smaller), so
    * label(x) = find(x) matches the distributed loop's min-propagation
    * exactly. Iterative find — a 1M-edge path graph would blow a
    * recursive one's stack. */
  private[graft] def ccLocal(edges: Array[(Long, Long)])
      : Array[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    for ((a, b) <- edges) {
      parent.putIfAbsent(a, a)
      parent.putIfAbsent(b, b)
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
    }
    val out = new Array[(Long, Long)](parent.size)
    var i = 0
    parent.forEach { (node, _) => out(i) = (node, 0L); i += 1 }
    out.indices.foreach(j => out(j) = (out(j)._1, find(out(j)._1)))
    out
  }

  /** The always-distributed label-propagation fixpoint — RanksSpec's
    * independent anchor for the driver-side union-find, and the path
    * any over-cap pair log (or non-LongType id space) takes. */
  private[graft] def connectedComponentsDistributed(pairs: DataFrame,
      maxRounds: Int = 50): DataFrame = {
    val edges0 = pairs.select(col("doc_a"), col("doc_b"))
      .union(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .persist()
    def checksum(labels: DataFrame): Long = {
      val r = labels.agg(sum(col("label"))).head
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    // Size the loop from the measured node count (~1M labels per loop
    // partition, capped at the session setting), then re-lay BOTH loop
    // frames at that partitioning: a labels layout left at the session's
    // partition count re-imposes session-grain stages on every round.
    // Node and edge counts come from ONE aggregate over the persisted
    // edge frame — a separate distinct+count pair would add a whole
    // job to a loop whose per-job scheduling cost is the thing being
    // minimized.
    val degRow = edges0
      .agg(count(lit(1)).as("m2"), count_distinct(col("doc_a")).as("n")).head
    val nEdges = degRow.getLong(0) / 2 // undirected pairs (edges0 doubled)
    val nNodes = degRow.getLong(1)
    val sessionParts =
      pairs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val loopParts = math.max(1,
      math.min(sessionParts.toLong, nNodes / 1000000L + 1L).toInt)
    // localCheckpoint (eager) TRUNCATES LINEAGE, not just caches it: a
    // plain persist leaves the whole upstream candidate-generation plan
    // (here, the full d03 LSH chain) inside every loop frame's logical
    // plan, and each round's query re-canonicalizes and re-optimizes it —
    // measured 2-3 s of pure PLANNING per round on few-hundred-row
    // frames at sf0.1. After the checkpoint the loop plans against the
    // materialized RDD. (On a multi-node cluster with executor churn,
    // swap for reliable checkpoint(dir) — same shape, durable blocks.)
    var labels = edges0.select(col("doc_a").as("doc_id")).distinct()
      .repartition(loopParts, col("doc_id"))
      .withColumn("label", col("doc_id"))
      .localCheckpoint()
    val edges = edges0.repartition(loopParts, col("doc_b")).localCheckpoint()
    edges0.unpersist()
    // HOP UNROLLING, sized to the GRAPH: on a key-grain label frame each
    // checkpoint/checksum ROUND costs task scheduling + planning
    // (~0.15-0.21 s measured at sf0.1 whatever the row count), and each
    // HOP inside a round costs one join+agg stage-set (~0.16-0.43 s
    // depending on graph size). Chaining k hops per round cuts rounds
    // from the component diameter D to ⌈D/k⌉+1 but raises total hops
    // from D+1 to ~D+k — a win only when rounds dominate, i.e. on DEEP
    // graphs. Measured at sf0.1: d13's chain-like pair graph (1828
    // nodes, avg degree 2.87, D = 14) wants k = 3 (15→6 rounds,
    // 4.72→3.84 s); d06's LSH graph is a near-MATCHING (477 nodes, avg
    // degree 1.07, D = 1) where an unconditional k = 3 tripled the hop
    // work for nothing (3.1→4.1 s min-grain — the round-13 regression).
    //
    // The initial k comes from a DEGREE proxy computed from counts the
    // loop already takes: every node in a pair graph has degree ≥ 1, so
    // at most n·(avgDeg−1) nodes have degree ≥ 2 — avgDeg < 1.5 means
    // under half the nodes connect to more than one edge and the graph
    // is dominated by isolated pairs / tiny stars (shallow ⇒ k = 1).
    // Denser graphs start at the measured deep-graph knee k = 3 (k = 5
    // re-optimization cost and pointer-doubling were both measured and
    // rejected in round 13). The proxy can guess wrong (a long path
    // hiding in a matching keeps avgDeg < 1.5), so a RAMP backstop
    // escalates k by 1 per non-converged round once the round count
    // passes the shallow budget — a misjudged deep graph pays a bounded
    // few extra k=1 rounds, never an unconverged exit.
    val avgDeg = 2.0 * nEdges / math.max(1L, nNodes)
    val hopCap = 3
    val shallowRoundBudget = 3
    var hopsPerRound = if (avgDeg < 1.5) 1 else hopCap
    var prevSum = checksum(labels)
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      var cur = labels
      var h = 0
      while (h < hopsPerRound) {
        cur = cur.union(
            edges.join(cur.withColumnRenamed("doc_id", "doc_b"), "doc_b")
              .select(col("doc_a").as("doc_id"), col("label")))
          .repartition(loopParts, col("doc_id"))
          .groupBy("doc_id").agg(min("label").as("label"))
        h += 1
      }
      val next = cur.localCheckpoint()
      val nextSum = checksum(next)
      // next is already materialized (eager checkpoint): the previous
      // round's blocks can be dropped deterministically instead of
      // pinning up to maxRounds of label frames until driver GC.
      freeCkpt(labels)
      labels = next
      converged = nextSum == prevSum
      prevSum = nextSum
      rounds += 1
      if (!converged && rounds >= shallowRoundBudget)
        hopsPerRound = math.min(hopCap, hopsPerRound + 1)
    }
    freeCkpt(edges)
    if (!converged) freeCkpt(labels)
    // Fail loudly rather than return wrong labels: if a component's
    // diameter exceeds maxRounds the loop exits on the bound with labels
    // still in flight — silently handing those to a dedup pipeline would
    // under-merge clusters with no signal. Callers with genuinely deeper
    // graphs raise maxRounds (the ramp reaches the hop cap after the
    // shallow budget, so rounds needed ≤ ⌈diameter / hopCap⌉ + 3).
    require(converged,
      s"connectedComponents: not converged after $maxRounds rounds — " +
        "a component's diameter exceeds maxRounds; raise it")
    // The final labels are a checkpointed RDD: the caller's plan starts
    // from the materialized blocks, not the loop lineage. The frame is
    // key-grain (|distinct doc ids in pairs|) — tiny.
    labels.select(col("doc_id"), col("label").as("cluster_id"))
  }

  /** The candidate pair graph the TERMINAL dedup operators (d06/d07/t13)
    * consume: LSH candidates (d03's banded MinHash self-join) verified at
    * the exact-Jaccard threshold. This is the load-bearing choice for
    * 100 TB: d02's shingle self-join generates the same ≥0.8 pairs but
    * costs Σ_lang |docs|² — quadratic in corpus size — while the banded
    * join shuffles by (band, signature) bucket and only ever compares
    * colliding candidates. The trade is LSH recall: a true ≥0.8 pair is
    * caught with p = 1-(1-s⁴)⁴ (s = its Jaccard), ≈97% at s=0.9, ≈88% at
    * the 0.8 threshold — the standard dedup-pipeline contract (banding
    * tuned to the threshold), vs. a pipeline that cannot run at all.
    * Unlike d02's lang-blocked generator, the hash buckets are
    * lang-agnostic: a verbatim copy filed under two languages still
    * collides and merges (extra recall, not a false positive — every
    * candidate is verified against the true shingle sets).
    *
    * d08's edit-distance pairs are DELIBERATELY not unioned in: a
    * ≤10-edit match on a 20-char prefix window is evidence of a shared
    * opening, not of whole-document duplication — auto-merging on it
    * would chain documents that merely start alike. d08 stays a REPORT
    * of fuzzy candidates for human/threshold triage;
    * `connectedComponents` accepts any pairs frame, so a caller that
    * does want the union clusters
    * `lshPairs(...).union(dedupEditDistance(...).select(...))`
    * directly. */
  def lshPairs(s: SparkSession, dir: String): DataFrame =
    dedupMinhashLsh(s, dir)
      .filter(col("jaccard_ppm") >= 800000)
      .select("doc_a", "doc_b")

  /** d06: near-dup cluster resolution — true connected components of the
    * LSH-verified pair graph (convergence-driven; the oracle is a
    * recursive transitive closure over the same banded candidates, so
    * both sides compute the component minimum exactly, whatever the
    * component diameter). */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    clusterPairs(lshPairs(s, dir))

  /** d06's resolution at FRAME grain — cluster an arbitrary (doc_a,
    * doc_b) pair frame; streaming callers hand in their accumulated
    * pair log (CorpusService.refreshCanonicalCorpus), the batch path
    * hands in lshPairs.
    *
    * Materializes the pair frame ONCE (eager localCheckpoint) before
    * the fixpoint: connectedComponents references it in both union
    * orientations, and every downstream stage of the terminal
    * composition (d07's left join, t13's semi-joins) would otherwise
    * carry the full candidate-generation chain in its lineage and
    * re-derive it per reference — at sf0.1 that made d06 cost 2.6× d03
    * (7.8 s vs 3.0 s) for a loop over a few-hundred-row graph. The pair
    * frame itself is tiny (one row per verified near-dup pair), so the
    * checkpoint is cheap at any corpus size; its blocks are freed once
    * the component labels (their own checkpoint) exist. */
  private[graft] def clusterPairs(pairFrame: DataFrame): DataFrame = {
    val pairs = pairFrame.select("doc_a", "doc_b").localCheckpoint()
    // NOT freed here: the pair source's own checkpoints (pairJaccard's
    // routed-verify frames on a long-doc corpus) are truncated out of
    // `pairs`' lineage by the checkpoint above, but they belong to the
    // CALLER — the corpus service hands in its accumulated pair-log
    // frame and reuses it across ticks, and a free here broke the next
    // tick (round-16 CorpusServiceSpec catch: CHECKPOINT_RDD_BLOCK_ID_
    // NOT_FOUND). Ownership rule: a frame's checkpoints are released
    // by whoever constructed them; unreachable-after-truncation blocks
    // are reclaimed by Spark's ContextCleaner once the RDD handles go
    // out of scope — a bounded deferral, not a leak.
    val out = connectedComponents(pairs)
    freeCkpt(pairs)
    out
  }

  /** Incremental maintenance of clusterPairs' labels: given the PREVIOUS
    * label table and only the pairs appended since it was computed,
    * produce labels equal to a full recompute over the whole pair set —
    * without touching the components the delta never reaches.
    *
    * The equivalence argument: a label is the component's minimum doc id
    * (connectedComponents initializes label := doc_id and propagates
    * min), so every previous cluster collapses soundly to a STAR — an
    * edge from each member to its label, which is itself a doc id inside
    * that component. Components containing no endpoint of a new pair
    * cannot change (no new edge reaches them), so their rows carry over
    * verbatim; for the rest, the fixpoint reruns over (new pairs ∪ star
    * edges of every touched cluster), and min over the merged member
    * sets is the global min — exactly what the full recompute yields.
    * A new pair may merge two old clusters, extend one, or create a
    * brand-new component of previously-unpaired docs; all three are the
    * same code path (IncrementalClustersSpec pins each, ≡ clusterPairs
    * over the union).
    *
    * Scale: the delta-refresh cost is O(|new pairs| + |members of
    * touched clusters|) plus a fixpoint whose edge set is that same
    * frame — vs. the full recompute's O(|all pairs| × diameter). At
    * 100 TB the pair log is collision-grain but LONG-LIVED; a steady
    * trickle of arrivals touches a vanishing fraction of accumulated
    * clusters, which is what makes a per-drain canonical refresh
    * sustainable. */
  private[graft] def incrementalClusters(prevLabels: DataFrame,
                                         newPairs: DataFrame): DataFrame = {
    val np = newPairs.select("doc_a", "doc_b").distinct().localCheckpoint()
    val touched = np.select(col("doc_a").as("doc_id"))
      .union(np.select(col("doc_b").as("doc_id"))).distinct()
    // Checkpointed (it is |touched clusters|-grain — tiny) so the
    // returned plan is self-contained once np's blocks are freed.
    val affected = prevLabels.join(touched, Seq("doc_id"), "left_semi")
      .select("cluster_id").distinct().localCheckpoint()
    // Every member of a touched cluster re-enters the fixpoint via its
    // star edge (label-as-partner is a doc id of the same component);
    // members equal to their label are covered as the stars' endpoints.
    val stars = prevLabels.join(affected, Seq("cluster_id"), "left_semi")
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("doc_a"), col("cluster_id").as("doc_b"))
    val relabeled = clusterPairs(np.unionByName(stars))
    freeCkpt(np)
    prevLabels.join(affected, Seq("cluster_id"), "left_anti")
      .select("doc_id", "cluster_id")
      .unionByName(relabeled)
  }

  /** s03: IVF-style ANN — √n hash-sampled coarse quantizer
    * (coarseCentroids), each vector assigned to its nearest centroid
    * cell, query probes the 12 nearest cells and re-ranks exactly within
    * them.
    *
    * Quality (AnnRecallSpec, recall@5 vs exact s01 on sf0.01, 32 sampled
    * cells): 4 probes measured 0.42, 8 → 0.52, 12 → 0.64 (asserted floor
    * 0.6), all 32 → 1.00 exactly (the probe-everything sanity bound —
    * within-cell re-ranking is exact, so scanning every cell IS s01).
    * nprobe is the recall/cost dial; the synthetic embeddings are
    * near-uniform (no cluster structure), so recall tracks the scanned
    * fraction (12/32 ≈ 37%, slightly LESS scanning than the previous
    * 4-of-10-linear-cells geometry at equal-or-better recall). On
    * clustered production embeddings the same operator concentrates
    * neighbors into few cells and the curve steepens.
    *
    * This is the partition-pruning scale path: cells become partition keys,
    * so a query touches |probed cells| / |cells| of the corpus instead of
    * all of it; the centroid table is tiny and broadcast, so assignment is
    * a narrow map over the corpus (no shuffle until the per-cell top-k). */
  def annIvf(s: SparkSession, dir: String): DataFrame = {
    val e = quantized(s, dir)
    val books = coarseBooks(s, dir, e)
    val assigned = imiRankB(e, books, "vec_id", 1)
      .filter(col("rn") === 1)
      .select(col("vec_id").as("neighbor_id"), col("cent_id").as("cell"))
    val probes = imiRankB(e.filter(col("vec_id") < 10), books, "vec_id", 5)
      .filter(col("rn") <= 12)
      .select(col("vec_id").as("query_id"), col("cent_id").as("cell"))
    val q = e.select(col("vec_id").as("query_id"), col("q").as("qa"), col("s2").as("sa"))
    val n = e.select(col("vec_id").as("neighbor_id"), col("q").as("qb"), col("s2").as("sb"))
    // Top-5 via the native map-side aggregate: cell candidates are
    // ~nprobe/√n of the corpus PER QUERY — corpus-grain through ≤|Q|
    // reducers in the window form (coarse-selection sweep).
    topKPerGroup(
      probes.join(assigned, "cell")
        .filter(col("neighbor_id") =!= col("query_id"))
        .join(q, "query_id").join(n, "neighbor_id")
        .withColumn("dot", dot)
        .withColumn("cos_ppm", cosPpm),
      "query_id", col("cos_ppm"), "neighbor_id", 5, "cos_ppm", "rank")
      .select("query_id", "neighbor_id", "cos_ppm", "rank")
  }

  /** s07: IVF ∘ prefix ANN — the composition the s06 scaladoc promises,
    * now as an operator: s03's coarse quantizer prunes CANDIDATES (each
    * query probes its 12 nearest of √n cells), s06's truncated-dimension
    * pass prunes BYTES-PER-SCORE within those cells (prefix cosine over
    * the 32-of-64-dim slice keeps top-100 per query), and the exact
    * 64-dim rerank runs at the doubly-pruned grain. This is the
    * production ANN shape: at 100 TB a query scores |probes|/|cells| of
    * the corpus from the PREFIX sidecar (half the vector bytes), then
    * fetches ~100 full vectors by key join — full vectors are never
    * scanned in a scoring loop. PlanSpec pins the composition order
    * (cell equi-join below the prefix top-100 filter below the rerank
    * window); AnnRecallSpec pins recall@5 ≥ 0.6 (s03's floor) — the
    * prefix pass can only drop candidates s03 kept, and measured on
    * sf0.01 it drops none: composed recall 0.640, identical to s03's
    * (the ~12·√n cell candidates per query shrink to 100, and the true
    * top-5 all survive the prefix cut — consistent with s06's 0.96
    * global prefix-retention). */
  def annIvfPrefix(s: SparkSession, dir: String): DataFrame = {
    val e = quantized(s, dir)
    val books = coarseBooks(s, dir, e)
    val assigned = imiRankB(e, books, "vec_id", 1)
      .filter(col("rn") === 1)
      .select(col("vec_id").as("neighbor_id"), col("cent_id").as("cell"))
    val probes = imiRankB(e.filter(col("vec_id") < 10), books, "vec_id", 5)
      .filter(col("rn") <= 12)
      .select(col("vec_id").as("query_id"), col("cent_id").as("cell"))
    val cellCand = probes.join(assigned, "cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id")
    // Prefix coarse pass at cell-candidate grain: scores read ONLY the
    // 32-dim prefix frame (the sidecar column at scale).
    val pfx = e.select(col("vec_id"), expr("slice(q, 1, 32)").as("qp"))
      .withColumn("sp", DotI64(col("qp"), col("qp")))
    val qp = pfx.select(col("vec_id").as("query_id"),
      col("qp").as("qpa"), col("sp").as("spa"))
    val np = pfx.select(col("vec_id").as("neighbor_id"),
      col("qp").as("qpb"), col("sp").as("spb"))
    // Prefix coarse top-100 via the native map-side aggregate (cell
    // candidates are corpus-grain per query at scale — the coarse-
    // selection sweep's rationale).
    val cand = topKPerGroup(
      cellCand.join(qp, "query_id").join(np, "neighbor_id")
        .withColumn("pdot", DotI64(col("qpa"), col("qpb")))
        .withColumn("pcos",
          floor(col("pdot") / (sqrt(col("spa")) * sqrt(col("spb")))
            * lit(1000000.0) + lit(0.5)).cast("long")),
      "query_id", col("pcos"), "neighbor_id", 100, "pcos", "prn")
      .select("query_id", "neighbor_id")
    // Exact rerank at the doubly-pruned candidate grain.
    val q = e.select(col("vec_id").as("query_id"), col("q").as("qa"), col("s2").as("sa"))
    val n = e.select(col("vec_id").as("neighbor_id"), col("q").as("qb"), col("s2").as("sb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_ppm").desc, col("neighbor_id").asc)
    cand.join(q, "query_id").join(n, "neighbor_id")
      .withColumn("dot", dot)
      .withColumn("cos_ppm", cosPpm)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("query_id", "neighbor_id", "cos_ppm", "rank")
  }

  /** s11: metadata-FILTERED ANN — top-5 by cosine among vectors sharing
    * the query's `label`, the filtered-vector-search shape every real
    * serving deployment needs (search within a tenant / language /
    * license class) and the one pure-ANN operators s01–s08 don't cover.
    *
    * This is POST-FILTERED IVF with the filter at CANDIDATE grain:
    * s03's probe (12 nearest of √n cells) generates candidates, the
    * label equality prunes them BEFORE any full-width dot product, and
    * the exact rerank runs only on same-label survivors — the filter
    * costs a key-join against the thin (vec_id, label) metadata frame,
    * never a scan of vector payloads. At 100 TB the same plan reads the
    * stored index (s08's layout) with `label` as an index column, so
    * the predicate pushes into the partition-pruned parquet scan;
    * PlanSpec pins the filter below the rerank window here. The
    * alternative — rerank first, filter after — breaks top-k semantics
    * (k survivors of an unfiltered top-k ≠ top-k of the filtered set);
    * recall vs the exact FILTERED baseline is pinned in AnnRecallSpec.
    *
    * With ~uniform labels (10 classes) each query's candidate set
    * shrinks ~10×, so filtered probing at equal nprobe is CHEAPER than
    * unfiltered — and the dial a deployment turns is nprobe: the
    * filtered truth set is FARTHER away (the query's true same-label
    * top-5 spread over more cells when 9/10 of every cell is filtered
    * out), so s11 probes 20 cells where s03 probes 12 — measured
    * recall@5 vs the exact filtered baseline 0.50 at 12 probes, back
    * at s03's floor by 20 (AnnRecallSpec pins ≥ 0.6). Total work still
    * UNDER s03's: 20 probed cells × ~1/10 label survivors is fewer
    * full-width dots than 12 cells unfiltered. */
  def annIvfFiltered(s: SparkSession, dir: String): DataFrame = {
    val e = quantized(s, dir)
    val lab = Tables.t(s, dir, "embeddings").select(col("vec_id"), col("label"))
    val books = coarseBooks(s, dir, e)
    val assigned = imiRankB(e, books, "vec_id", 1)
      .filter(col("rn") === 1)
      .select(col("vec_id").as("neighbor_id"), col("cent_id").as("cell"))
      .join(lab.select(col("vec_id").as("neighbor_id"),
        col("label").as("n_label")), "neighbor_id")
    val probes = imiRankB(e.filter(col("vec_id") < 10), books, "vec_id", 5)
      .filter(col("rn") <= 20)
      .select(col("vec_id").as("query_id"), col("cent_id").as("cell"))
      .join(lab.select(col("vec_id").as("query_id"),
        col("label").as("q_label")), "query_id")
    val q = e.select(col("vec_id").as("query_id"), col("q").as("qa"), col("s2").as("sa"))
    val n = e.select(col("vec_id").as("neighbor_id"), col("q").as("qb"), col("s2").as("sb"))
    val win = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_ppm").desc, col("neighbor_id").asc)
    probes.join(assigned, "cell")
      .filter(col("neighbor_id") =!= col("query_id") &&
        col("n_label") === col("q_label"))
      .join(q, "query_id").join(n, "neighbor_id")
      .withColumn("dot", dot)
      .withColumn("cos_ppm", cosPpm)
      .withColumn("rank", row_number().over(win))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("q_label").as("label"),
        col("neighbor_id"), col("cos_ppm"), col("rank"))
  }

  /** s08/s09's storage half: materialize the IVF layout as ONE
    * self-describing warehouse artifact, hive-partitioned by `cell` —
    * the engine's analogue of the reference's ORDER-BY-key read
    * locality (initial_load_generate_postgres_data.py:98,109,119): the
    * linear assignment work s03/s05/s07 re-derive per invocation
    * becomes storage, and queries read |touched cells| / |cells| of the
    * index files via partition pruning instead of scanning and
    * re-assigning the corpus.
    *
    * Layout: one row per (vector, top-4 cell) with the assignment rank
    * `rn` — rn=1 rows carry the ANN serving payload (32-dim prefix
    * `qp`, prefix norm `sp`, full norm `s2`); rn>1 rows carry NULLs
    * there (parquet nulls cost ~nothing), existing only as thin
    * (cell, vec_id) membership rows. One artifact thus serves BOTH
    * consumers: s08 reads rn=1 + prefix bytes under partition pruning,
    * s09/the dedup family read the thin top-4 membership (s05's
    * multi-assignment, exactly). Full vectors are NOT in the index —
    * reranks fetch them by key join, so index bytes stay ~half the
    * corpus bytes plus the thin membership rows.
    *
    * The quantizer that assigned the rows is persisted WITH them
    * (`_quantizer` sidecar — underscore dirs are invisible to the
    * parquet read): index rows are only meaningful relative to their
    * centroid set, serving must probe the SAME set (a probe against a
    * re-derived quantizer could disagree with stored cells), and the
    * append path must extend under it. Epoch contract mirrors
    * StreamingSemanticDedup.retrain: within an epoch the quantizer is
    * immutable; a retrain is a REBUILD, never an append. */
  /** The (vec_id, label) metadata frame of an embeddings source, when
    * it carries one — the single rule every index build/append path
    * shares, so a layout is labeled iff its corpus is and build, append
    * and rebuild can never disagree about the schema (the streaming
    * service ingests label-less (vec_id, embedding) waves → null label
    * column; the batch testdata dirs carry labels → indexed labels). */
  private[graft] def metaOf(src: DataFrame): Option[DataFrame] =
    if (src.columns.contains("label"))
      Some(src.select(col("vec_id"), col("label").cast("int")))
    else None

  private[graft] def buildAnnIndex(s: SparkSession, dir: String,
                                   path: String): Unit = {
    val e = quantized(s, dir)
    buildAnnIndexFrom(e, coarseCodebooks(s, dir, e), path,
      meta = metaOf(Tables.t(s, dir, "embeddings")))
  }

  /** Core of the build, parameterized by the quantizer frame — callers
    * that own a persisted quantizer epoch (CorpusService) pass it here;
    * the batch memo path derives it from the corpus. `meta` is the
    * optional (vec_id, label) metadata frame: filtered serving (s12)
    * answers metadata predicates FROM the index rows, the way every
    * production vector store co-locates filterable attributes with the
    * index — a corpus-grain metadata join at query time is exactly the
    * scan the index exists to avoid. Callers without metadata (the
    * streaming service's label-less corpus) get a null label column, so
    * the layout's schema — and therefore the append path — is identical
    * either way. */
  /** `sq8` is the SQ8 range frame and `pq` the PQ codebook frame to
    * encode the two code payloads under — callers that own persisted
    * epochs (the append path, the frozen-rebuild spec twins) pass
    * them; the build path derives both from the corpus and persists
    * them as the `_sq8` / `_pq` sidecars. */
  private[graft] def buildAnnIndexFrom(e: DataFrame, cents: DataFrame,
                                       path: String,
                                       meta: Option[DataFrame] = None,
                                       sq8: Option[DataFrame] = None,
                                       pq: Option[DataFrame] = None): Unit = {
    // One tiny (1-row) frame read by both the data write and the sidecar
    // write; localCheckpoint stops the second write re-running the
    // corpus-grain min/max agg it derives from. The PQ codebooks (≈256
    // rows/subspace) get the same treatment — their derivation counts
    // and samples the corpus.
    val ranges = sq8.getOrElse(sq8Ranges(e)).localCheckpoint()
    val books = pq.getOrElse(pqCodebooks(e, e.count())).localCheckpoint()
    try {
      indexRows(e, cents, meta, ranges, books)
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(path)
      // After the data write: overwrite mode clears `path` first, which
      // would take a pre-written sidecar with it.
      cents.write.mode("overwrite").parquet(path + "/_quantizer")
      ranges.write.mode("overwrite").parquet(path + "/_sq8")
      books.write.mode("overwrite").parquet(path + "/_pq")
    } finally { freeCkpt(ranges); freeCkpt(books) }
  }

  private[queries] def indexRows(e: DataFrame, cents: DataFrame,
                        meta: Option[DataFrame],
                        sq8: DataFrame, pqBooks: DataFrame): DataFrame = {
    val assigned = imiRank(e, cents, "vec_id", 2)
      .filter(col("rn") <= 4)
      .select(col("vec_id"), col("rn"), col("cent_id").as("cell"))
    val pfx = e.select(col("vec_id"), expr("slice(q, 1, 32)").as("qp"),
        col("s2"))
      .withColumn("sp", DotI64(col("qp"), col("qp")))
    // The SQ8 payload rides the rn=1 rows beside the prefix: codes are
    // 1 byte/dim (vs the prefix's 8 B/dim over half the dims), css is
    // the precomputed code-norm — s17's coarse pass reads ONLY these.
    val codes = sq8EncodeWith(e, sq8)
      .select(col("vec_id"), col("codes"), col("ss").as("css"))
    // The PQ payload: 4 codebook ids per vector (4 bytes at scale once
    // ids remap to byte codes; longs here) + the reconstruction norm —
    // s21's ADC pass reads ONLY these. The struct sort keys on `sub`,
    // so the array is subspace-ordered deterministically.
    val pqc = pqEncodeWith(e, pqBooks)
      .groupBy("vec_id")
      .agg(expr(
        """transform(array_sort(collect_list(named_struct('sub', sub,
          |  'c', cent_id))), x -> x.c)""".stripMargin).as("pq"),
        sum(col("scs")).as("spq"))
    val labeled = meta match {
      // Metadata rides on EVERY row (membership rows included): the
      // filtered candidate pass reads thin (cell, vec_id, label) rows,
      // and 4 bytes per row is noise next to the rn=1 prefix payload.
      case Some(m) => assigned.join(
        m.select(col("vec_id"), col("label").cast("int")), Seq("vec_id"), "left")
      case None    => assigned.withColumn("label", lit(null).cast("int"))
    }
    labeled.join(pfx, "vec_id").join(codes, "vec_id").join(pqc, "vec_id")
      .select(col("vec_id"), col("rn"),
        when(col("rn") === 1, col("qp")).as("qp"),
        when(col("rn") === 1, col("sp")).as("sp"),
        when(col("rn") === 1, col("s2")).as("s2"),
        when(col("rn") === 1, col("codes")).as("codes"),
        when(col("rn") === 1, col("css")).as("css"),
        when(col("rn") === 1, col("pq")).as("pq"),
        when(col("rn") === 1, col("spq")).as("spq"),
        col("label"),
        col("cell"))
  }

  /** Incremental index maintenance — the append path a growing corpus
    * needs (rebuilding n rows to admit a batch of b is O(n) wasted work
    * at 100 TB): assign ONLY not-yet-indexed vectors, under the index's
    * own frozen sidecar quantizer, and append their rows as new files
    * inside the hive-partitioned layout — no existing file is touched,
    * so concurrent index readers see the old row set or the new one
    * per their plan-time file listing, never a torn row (the append-only
    * log contract the dedup pair logs already carry).
    *
    * `newVectors` (vec_id, embedding): callers that track their ingest
    * batch pass it directly — O(batch) work, the per-wave maintenance
    * cost. When absent, new ids are discovered by anti-joining the
    * corpus against the index's id column (a column-pruned scan of the
    * index: no prefix bytes are read). */
  private[graft] def appendAnnIndex(s: SparkSession, dir: String,
                                    path: String,
                                    newVectors: Option[DataFrame] = None)
      : Unit = {
    val newQ = newVectors
      .map(f => quantizeFrame(f.select(col("vec_id"), col("embedding"))))
      .getOrElse(quantized(s, dir)
        .join(s.read.parquet(path).select("vec_id"), Seq("vec_id"), "left_anti"))
    // Metadata contract mirrors the build (metaOf's column-presence
    // rule, applied to whichever frame supplies the new vectors): an
    // append must not hide rows from the filtered read the build made
    // visible, nor invent a label column the layout doesn't have.
    // Corollary for explicit-batch callers: on a LABELED layout the
    // batch frame must CARRY its labels — a label-less explicit frame
    // would append null-label rows that the filtered read (s12) can
    // never return. The guard below makes that mistake fail loudly
    // (one column-pruned limit-1 probe of the stored label column,
    // paid only on the label-less-explicit-batch path); the discovery
    // path is immune (it reads the corpus table, labels and all).
    val meta = metaOf(newVectors.getOrElse(Tables.t(s, dir, "embeddings")))
    if (newVectors.isDefined && meta.isEmpty) {
      val layoutLabeled = !s.read.parquet(path)
        .where(col("label").isNotNull).limit(1).isEmpty
      require(!layoutLabeled,
        s"appendAnnIndex: index at $path has a labeled layout but the " +
          "explicit batch carries no label column; rows appended without " +
          "labels would be invisible to filtered serving (s12). Pass the " +
          "batch with its (vec_id, label) metadata.")
    }
    // Codes for the new rows are encoded under the index's own FROZEN
    // range epoch (`_sq8` sidecar — out-of-range arrivals saturate),
    // exactly as cells come from the frozen `_quantizer`: an append
    // never moves either epoch; a range refresh is a retrain-class
    // event (rebuild, staged swap).
    appendAnnIndexFrom(s, path, newQ, meta)
  }

  /** The grain-agnostic append core: `newQ` is an ALREADY-QUANTIZED
    * (vec_id, q, s2) frame assigned and encoded under the index's own
    * frozen sidecars — the chunk-grain index (integer-derived vectors,
    * no quantizeFrame, no label layout) appends through this directly;
    * [[appendAnnIndex]] is the embeddings-table form with discovery and
    * the label-layout guard above it. */
  /** Read an index sidecar, failing LOUDLY when the index predates the
    * payload epoch that sidecar carries: an index built before the
    * SQ8/PQ payloads exist has no `codes`/`pq` columns either, so an
    * append or code-served query against it cannot be made consistent —
    * the raw missing-path AnalysisException it would otherwise throw
    * says nothing about the fix. A sidecar refresh is a retrain-class
    * event: delete the index directory and rebuild (refreshAnnIndex /
    * refreshChunkIndex take the build path when the dir is gone). */
  /** Read an index's `_quantizer` sidecar, failing LOUDLY when the
    * index predates the two-level quantizer epoch: a flat (cent_id,
    * qc, sc) sidecar has no `sub` column, its stored cells are single
    * centroid ids rather than packed sub-cell pairs, and no probe
    * against it can be made consistent with the IMI assigner — the
    * raw unresolved-column error it would otherwise throw says nothing
    * about the fix. Same contract as [[sidecarOf]]: a quantizer-format
    * migration is a retrain-class event — delete the index directory
    * and rebuild. */
  private[queries] def quantizerOf(s: SparkSession, path: String): DataFrame = {
    val q = sidecarOf(s, path, "_quantizer")
    require(q.columns.contains("sub"),
      s"ANN index at $path predates the two-level (IMI) quantizer epoch " +
        "(flat _quantizer sidecar, no `sub` column): its stored cells " +
        "are single centroid ids, which the product-cell prober cannot " +
        "serve consistently. Rebuild the index — a quantizer-format " +
        "migration is a retrain-class event (delete the index directory " +
        "and run the build/refresh path again).")
    q
  }

  private[graft] def sidecarOf(s: SparkSession, path: String,
                              name: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$path/$name")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    require(fs.exists(p),
      s"ANN index at $path predates the $name payload epoch (no $name " +
        "sidecar): its stored rows carry no matching codes, so appending " +
        "or serving under this epoch is impossible. Rebuild the index — " +
        "a sidecar refresh is a retrain-class event (delete the index " +
        "directory and run the build/refresh path again).")
    // The part files, not the directory: Spark warns that it ignores a
    // `_`-prefixed root path as hidden (and still reads it).
    s.read.parquet(fs.listStatus(p).map(_.getPath.toString)
      .filter(_.endsWith(".parquet")).toIndexedSeq: _*)
  }

  /** Copy, as files, each sidecar the index at `path` has into `stage`:
    * compaction and purge are file-layout rewrites, so the epoch carries
    * over byte for byte, and an index that predates a payload epoch
    * keeps lacking it (sidecarOf's rebuild contract is for append and
    * serving, where the codes are consumed). */
  private[graft] def carryAnnSidecars(s: SparkSession, path: String,
                                      stage: String): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    Seq("_quantizer", "_sq8", "_pq").foreach { sc =>
      val src = new org.apache.hadoop.fs.Path(s"$path/$sc")
      val fs = src.getFileSystem(conf)
      if (fs.exists(src))
        org.apache.hadoop.fs.FileUtil.copy(fs, src, fs,
          new org.apache.hadoop.fs.Path(s"$stage/$sc"), false, conf)
    }
  }

  private[graft] def appendAnnIndexFrom(s: SparkSession, path: String,
                                        newQ: DataFrame,
                                        meta: Option[DataFrame] = None)
      : Unit = {
    val cents = quantizerOf(s, path)
    indexRows(newQ, cents, meta, sidecarOf(s, path, "_sq8"),
        sidecarOf(s, path, "_pq"))
      .repartition(col("cell"))
      .write.mode("append").partitionBy("cell").parquet(path)
  }

  /** Compaction for the APPEND-MAINTAINED index: every append adds one
    * file set per touched cell, so a long-lived index's file count
    * tracks the append count — the same unbounded-growth failure the
    * dedup logs have, paid at query PLANNING time (file listing) rather
    * than read time. The rewrite collapses each cell back to the
    * shuffle's output files, `distinct()` absorbing the one duplicate
    * source appends can physically produce (a crash-replayed
    * appendAnnIndex re-adding its batch — index rows are unique per
    * (vec_id, rn) otherwise), and copies the sidecars into the staged
    * artifact unchanged ([[carryAnnSidecars]]): compaction is a FILE-layout
    * operation, the epoch does not move. Same fingerprint guard +
    * staged swap as the log compactions — a concurrent append parks the
    * rewrite and returns false; run it in the same quiesced windows
    * (CorpusService.compactQuiesced does). */
  private[graft] def tryCompactAnnIndex(s: SparkSession,
                                        path: String): Boolean =
    graft.jobs.Warehouse.guardedRewrite(s, path) { stage =>
      s.read.parquet(path).distinct()
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(stage)
      carryAnnSidecars(s, path, stage)
    }

  /** The materialized ANN index location for a corpus dir — built
    * once per snapshot of its embeddings table (the build is the
    * offline indexing job, the queries read), so a corpus that grew
    * gets a fresh index instead of one that silently misses every
    * vector ingested after the build. The superseded index's temp dir is
    * deleted when the fresh one replaces it in the memo. */
  private[graft] def annIndexPath(s: SparkSession, dir: String): String =
    graft.Snapshot.memo(s, "annIndex", Seq(s"$dir/embeddings.parquet"))({
      val p = java.nio.file.Files.createTempDirectory("graft-annidx")
        .toFile.getAbsolutePath
      buildAnnIndex(s, dir, p)
      p
    }, graft.Snapshot.deleteDir(s))

  private[queries] def annIndex(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(annIndexPath(s, dir))

  /** s08: ANN served off the STORED index — semantically ≡ s07 (same
    * probes, same prefix cut, same exact rerank; AnnIndexSpec pins the
    * outputs identical), but the corpus-wide cell assignment is READ,
    * not recomputed. The probe→index join is on the index's hive
    * partition column, so Catalyst inserts a dynamic partition-pruning
    * filter on the index scan (PlanSpec pins it): only probed cells'
    * files are opened — at 100 TB an ANN query touches
    * |probes|/|cells| ≈ 12/√n of the index, reads prefix bytes only,
    * and fetches ~100 full vectors per query by key join. The once-per-
    * corpus build is the offline indexing job every IVF system runs;
    * queries amortize it. */
  def annIvfIndexed(s: SparkSession, dir: String): DataFrame =
    annIvfIndexedAt(s, dir, annIndexPath(s, dir))

  /** [[annIvfIndexed]] at an explicit probe width — the serving dial
    * (AnnRecallSpec prices two settings against the exact scan). */
  def annIvfIndexed(s: SparkSession, dir: String, nprobe: Int): DataFrame =
    annIvfIndexedAt(s, dir, annIndexPath(s, dir), nprobe = nprobe)

  /** s24: SERVING-QUALITY AUDIT — per-query recall@5 of the
    * index-served IVF path (s08) against the exact scan (s01), the
    * health metric an ANN deployment watches continuously: approximate
    * retrieval trades recall for the cell-probe cost model, and the
    * trade drifts as the corpus grows within a quantizer epoch (cells
    * fill unevenly; the probe budget covers less of the mass), so the
    * audit runs on a schedule and its drop is what triggers a retrain
    * in practice. Both sides are the deterministic operators already
    * oracle-pinned (ties broken by neighbor_id), so the audit itself is
    * hash-exact. Scale: the exact side is the honest cost (one |Q|·n
    * scan at audit cadence, |Q| = the fixed probe set — NOT per user
    * query); the served side is the pruned index read. Columns:
    * (query_id, n_hit, k, recall_ppm), truncating-div ppm. */
  def recallAudit(s: SparkSession, dir: String): DataFrame =
    recallAuditOf(annCosineTopK(s, dir), annIvfIndexed(s, dir))

  /** The audit core over any (exact, served) top-k pair — shared with
    * the maintained service, whose two sides are the tombstone-filtered
    * live corpus and the stored-index read path. */
  private[graft] def recallAuditOf(exactTopK: DataFrame,
                                   servedTopK: DataFrame): DataFrame = {
    val exact = exactTopK.select("query_id", "neighbor_id")
    val served = servedTopK.select("query_id", "neighbor_id")
    val hits = exact.join(served, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
    exact.groupBy("query_id").agg(count(lit(1)).as("k"))
      .join(hits, Seq("query_id"), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .select(col("query_id"), col("n_hit"), col("k"),
        expr("n_hit * 1000000 div k").as("recall_ppm"))
  }

  /** s08's read path over an EXPLICIT index location — the serving
    * entry for callers that maintain the index as a warehouse artifact
    * (CorpusService.refreshAnnIndex) rather than through the per-JVM
    * memo. Probes score against the index's own sidecar quantizer, so
    * serving is always consistent with the epoch that assigned the
    * stored rows — probes and assignments cannot disagree, whatever
    * grew or retrained in between. */
  def annIvfIndexedAt(s: SparkSession, dir: String,
                      indexPath: String,
                      dropIds: Option[DataFrame] = None,
                      nprobe: Int = DefaultNprobe): DataFrame =
    annIvfIndexedQueries(s, dir,
      Tables.t(s, dir, "embeddings").filter(col("vec_id") < 10),
      indexPath, excludeSelf = true, dropIds = dropIds, nprobe = nprobe)

  /** s08's serving entry for an ARBITRARY query frame — the production
    * shape, where queries are EXTERNAL vectors (a user request, another
    * table's embeddings), not rows of the indexed corpus. `queries` is
    * (vec_id, embedding); everything else is s08 exactly: probes score
    * against the index's sidecar quantizer, candidates come from the
    * partition-pruned index read (prefix bytes only), the exact rerank
    * fetches ~100 full corpus vectors per query by key join. The corpus
    * form above is this with `queries` = the benchmark's fixed corpus
    * rows and `excludeSelf` on — external callers leave `excludeSelf`
    * off, because their ids share no space with the corpus's and an
    * accidental numeric collision must not drop a true neighbor
    * (AnnIndexSpec pins an identical-vector external query ranking its
    * corpus twin first at cos 1e6). */
  /** `k` is the returned depth (default 5, the benchmark grain); the
    * candidate pass is always top-100, so any k ≤ 100 reads the same
    * pruned index rows — the served hybrid (CorpusService.hybridTopKFor)
    * takes its vector top-20 through this. */
  def annIvfIndexedQueries(s: SparkSession, dir: String, queries: DataFrame,
                           indexPath: String,
                           excludeSelf: Boolean = false,
                           k: Int = 5,
                           dropIds: Option[DataFrame] = None,
                           nprobe: Int = DefaultNprobe): DataFrame =
    annIvfIndexedOver(s, quantized(s, dir), quantizeFrame(queries),
      indexPath, excludeSelf, k, dropIds, nprobe)

  /** The default probe width of the served IVF read path — the one the
    * benchmark queries and the s03 oracle pin (12 of the P=5 product
    * ranking's 25 cells). Deployments turn [[annIvfIndexedQueries]]'
    * `nprobe` per request class; the recall audit prices each setting
    * (the audit log records the width per row). */
  val DefaultNprobe = 12

  /** The grain-agnostic core of indexed ANN serving: `corpus` and `eq`
    * are ALREADY-QUANTIZED (vec_id, q, s2) frames, so the same read
    * path serves doc-grain embeddings (the forms above) and the
    * chunk-grain index ([[chunkVectors]] — RAG's serving grain), where
    * vectors are integer-derived and never pass through quantizeFrame. */
  private[graft] def annIvfIndexedOver(s: SparkSession, corpus: DataFrame,
                                       eq: DataFrame, indexPath: String,
                                       excludeSelf: Boolean,
                                       k: Int,
                                       dropIds: Option[DataFrame] = None,
                                       nprobe: Int = DefaultNprobe)
      : DataFrame = {
    require(nprobe >= 1, "annIvfIndexedOver: nprobe must be >= 1")
    // `dropIds` is the TOMBSTONE dial (CorpusService.deleteDocs): a thin
    // (vec_id) frame of deleted rows filtered out of the index read, so
    // serving equals a rebuild-without-the-docs under the same epoch,
    // until compaction physically removes them.
    val idx0 = s.read.parquet(indexPath).filter(col("rn") === 1)
    val idx = dropIds.fold(idx0)(d =>
      idx0.join(d.select(col("vec_id")), Seq("vec_id"), "left_anti"))
    val cents = quantizerOf(s, indexPath)
    // Hive partition values round-trip through directory names; cast the
    // probe side to the scan's inferred type so the join key is the bare
    // partition attribute (a cast on the scan side would defeat pruning).
    val cellT = idx.schema(idx.schema.fieldIndex("cell")).dataType
    // The ranking width covers the probe budget (perHalf² ranked
    // product cells ≥ nprobe) and never shrinks below the default 5 —
    // the P=5 ranking's top-12 is what the s03/s08 oracles pin, so a
    // SMALLER nprobe is a pure prefix of the pinned ranking, and a
    // larger one widens the ranking only as far as it must.
    val perHalf = math.max(5, math.ceil(math.sqrt(nprobe.toDouble)).toInt)
    val probes = imiRank(eq, cents, "vec_id", perHalf)
      .filter(col("rn") <= nprobe)
      .select(col("vec_id").as("query_id"),
        col("cent_id").cast(cellT).as("cell"))
    // Candidate generation reads the index: neighbor prefixes and norms
    // come from the pruned index rows, not a corpus scan.
    val qp = eq
      .select(col("vec_id").as("query_id"), expr("slice(q, 1, 32)").as("qpa"))
      .withColumn("spa", DotI64(col("qpa"), col("qpa")))
    val pw = Window.partitionBy(col("query_id"))
      .orderBy(col("pcos").desc, col("neighbor_id").asc)
    val hits = idx.join(broadcast(probes), "cell")
    val cand = (if (excludeSelf) hits.filter(col("vec_id") =!= col("query_id"))
                else hits)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("qp").as("qpb"), col("sp").as("spb"))
      .join(broadcast(qp), "query_id")
      .withColumn("pdot", DotI64(col("qpa"), col("qpb")))
      .withColumn("pcos",
        floor(col("pdot") / (sqrt(col("spa")) * sqrt(col("spb")))
          * lit(1000000.0) + lit(0.5)).cast("long"))
      .withColumn("prn", row_number().over(pw))
      .filter(col("prn") <= 100)
      .select("query_id", "neighbor_id")
    // Exact rerank at the doubly-pruned grain: query vectors from the
    // caller's frame, full neighbor vectors by key join into the corpus.
    val q = eq.select(col("vec_id").as("query_id"), col("q").as("qa"), col("s2").as("sa"))
    val n = corpus
      .select(col("vec_id").as("neighbor_id"), col("q").as("qb"), col("s2").as("sb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_ppm").desc, col("neighbor_id").asc)
    cand.join(q, "query_id").join(n, "neighbor_id")
      .withColumn("dot", dot)
      .withColumn("cos_ppm", cosPpm)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos_ppm", "rank")
  }

  /** s12: FILTERED ANN served off the STORED index — s11's semantics
    * (top-5 by cosine within the query's label) with both the
    * corpus-wide cell assignment AND the label metadata READ from the
    * index instead of recomputed/joined per invocation. This is how a
    * production vector store answers filtered queries: the label rides
    * in the index rows (indexRows co-locates it), so the candidate pass
    * reads thin (cell, vec_id, label) tuples of the probed cells —
    * partition-pruned on `cell`, label equality applied right at the
    * pruned scan, full vectors fetched by key join only for same-label
    * survivors. No corpus-grain metadata join exists at query time; the
    * only corpus-grain work left is the rerank's key-join fetch.
    *
    * The query's OWN label comes from the query frame (a filtered
    * request names its filter), probes score against the sidecar
    * quantizer (the epoch that assigned the stored rows), and the
    * result is row-for-row ≡ s11's recompute path — AnnIndexSpec pins
    * the equivalence, and one oracle text serves both registrations
    * (the s07/s08 sharing pattern). */
  def annIvfFilteredIndexed(s: SparkSession, dir: String): DataFrame =
    annIvfFilteredQueries(s, dir,
      Tables.t(s, dir, "embeddings").filter(col("vec_id") < 10),
      annIndexPath(s, dir), excludeSelf = true)

  /** s12's serving entry for an ARBITRARY filtered query frame — the
    * request path of filtered vector search ("top-k within label L for
    * this vector"): `queries` is (vec_id, embedding, label), where
    * `label` names each request's filter — it need not be a label the
    * query vector itself carries in the corpus. Everything else is s12
    * exactly: probes score against the sidecar quantizer, candidates
    * come from the partition-pruned index read with the label equality
    * at the pruned scan, the rerank fetches full corpus vectors for
    * same-label survivors only. The corpus form above is this with the
    * benchmark's fixed corpus rows and `excludeSelf` on — external
    * callers leave it off (their ids share no space with the corpus's;
    * the annIvfIndexedQueries contract). */
  def annIvfFilteredQueries(s: SparkSession, dir: String, queries: DataFrame,
                            indexPath: String,
                            excludeSelf: Boolean = false,
                            dropIds: Option[DataFrame] = None): DataFrame = {
    val idx0 = s.read.parquet(indexPath).filter(col("rn") === 1)
    val idx = dropIds.fold(idx0)(d =>
      idx0.join(d.select(col("vec_id")), Seq("vec_id"), "left_anti"))
    val eq = quantizeFrame(queries)
    val cents = quantizerOf(s, indexPath)
    val cellT = idx.schema(idx.schema.fieldIndex("cell")).dataType
    val qlab = queries.select(col("vec_id").as("query_id"),
      col("label").cast("int").as("q_label"))
    val probes = imiRank(eq, cents, "vec_id", 5)
      .filter(col("rn") <= 20)
      .select(col("vec_id").as("query_id"),
        col("cent_id").cast(cellT).as("cell"))
      .join(qlab, "query_id")
    val hits0 = idx.join(broadcast(probes), "cell")
      .filter(col("label") === col("q_label"))
    val hits = (if (excludeSelf) hits0.filter(col("vec_id") =!= col("query_id"))
                else hits0)
      .select(col("query_id"), col("q_label"), col("vec_id").as("neighbor_id"))
    val q = eq.select(col("vec_id").as("query_id"), col("q").as("qa"),
      col("s2").as("sa"))
    val n = quantized(s, dir).select(col("vec_id").as("neighbor_id"),
      col("q").as("qb"), col("s2").as("sb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_ppm").desc, col("neighbor_id").asc)
    hits.join(q, "query_id").join(n, "neighbor_id")
      .withColumn("dot", dot)
      .withColumn("cos_ppm", cosPpm)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("q_label").as("label"),
        col("neighbor_id"), col("cos_ppm"), col("rank"))
  }

  /** s04: per-language embedding centroids — element-wise mean pooling
    * over the quantized vectors (embeddings joined to documents by id).
    * Integer sums per (lang, dim) are exact and order-free; the mean is a
    * single integer division. This is the class-centroid / mean-pooling
    * primitive (and the training step IVF's coarse quantizer would use);
    * the dim explode keeps rows narrow and the aggregation map-side
    * combinable. */
  def langCentroids(s: SparkSession, dir: String): DataFrame = {
    val langs = docs(s, dir).select(col("doc_id").as("vec_id"), col("lang"))
    quantized(s, dir)
      .join(langs, "vec_id")
      .select(col("lang"), posexplode(col("q")))
      .select(col("lang"), (col("pos") + 1).as("dim"), col("col").as("v"))
      .groupBy("lang", "dim")
      .agg(count(lit(1)).as("n_vecs"),
        idiv(sum(col("v")), count(lit(1))).as("centroid_ppm"))
  }

  /** s10: embedding-outlier quality filtering — the curation step that
    * sits NEXT TO SemDeDup in an embedding-curated pipeline: SemDeDup
    * (s05/d13) drops what is too CLOSE to a neighbor; this flags what
    * is too FAR from its class — each document scored by the cosine of
    * its embedding to its language's centroid direction, flagged when
    * anti-aligned (cos < 0: mislabeled language, corrupt embedding, or
    * off-distribution content). The centroid is the per-lang integer
    * SUM vector, never the mean: cosine is scale-invariant, so the sum
    * spans the same direction with exact integer arithmetic — the
    * divisionless twin of the ppm-ratio trick, and why both engines
    * agree bit-for-bit.
    *
    * Scale shape: the sum vectors are one dim-grain hash agg (map-side
    * combinable integer sums, s04's shape) collapsed to |langs| array
    * rows and BROADCAST back, so scoring is one codegen DotI64 per
    * document riding the broadcast — the only corpus-grain shuffle is
    * the standard docs⋈embeddings id join every embedding operator
    * pays (co-partitioned at scale). */
  def centroidOutliers(s: SparkSession, dir: String): DataFrame = {
    val langs = docs(s, dir).select(col("doc_id").as("vec_id"), col("lang"))
    val e = quantized(s, dir).join(langs, "vec_id")
    val sumVecs = e.select(col("lang"), posexplode(col("q")))
      .select(col("lang"), col("pos"), col("col").as("v"))
      .groupBy("lang", "pos").agg(sum(col("v")).as("sv"))
      .groupBy("lang")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("sv")))),
        x => x.getField("sv")).as("cq"))
      .withColumn("cs2", DotI64(col("cq"), col("cq")))
    e.join(broadcast(sumVecs), "lang")
      .withColumn("dot", DotI64(col("q"), col("cq")))
      .select(col("vec_id"), col("lang"),
        floor(col("dot") / (sqrt(col("s2")) * sqrt(col("cs2")))
          * lit(1000000.0) + lit(0.5)).cast("long").as("cos_ppm"))
      .withColumn("is_outlier", when(col("cos_ppm") < 0, 1).otherwise(0))
  }

}
