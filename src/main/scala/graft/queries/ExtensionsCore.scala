package graft.queries

import graft.{Snapshot, Tables}
import graft.functions.{DotI64, ImiCells, Portable}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Shared builders of the extension-operator families: table readers,
  * integer-quantized embedding frames, the IMI coarse-quantizer
  * machinery, and the connected-components fixpoint — the cores every
  * family below composes.
  *
  * One mixin of [[Extensions]] (a pure file split of the original
  * single object — every member still resolves on Extensions.type via
  * the self-type; call sites and the query registry are unchanged). */
private[queries] trait ExtCore { this: Extensions.type =>
  import Portable.{h32, idiv, ppm, P}

  // ---------------------------------------------------------------- builders

  private[queries] def docs(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents")

  /** doc_id, lang, t = whitespace tokens. */
  private[queries] def toks(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"), col("lang"),
      split(col("text"), " ").as("t"))

  /** One row per token occurrence with 1-based position. */
  private[queries] def tokRows(s: SparkSession, dir: String): DataFrame =
    toks(s, dir)
      .select(col("doc_id"), col("lang"), posexplode(col("t")))
      .select(col("doc_id"), col("lang"), (col("pos") + 1).as("pos"),
        col("col").as("tok"))

  /** Distinct 3-gram word shingles per doc (same-lang blocking key
    * kept). Frame-grain so the streaming paths shingle a micro-batch
    * with the identical definition. Kernel-backed: per-doc distinct
    * comes out of the one-pass [[graft.functions.DistinctGrams]] scan,
    * so the corpus-wide (doc, lang, shingle) DISTINCT shuffle the
    * exploded form paid — an exchange whose only job was dedup — is
    * gone from every consumer (t21/t22 novelty, the streaming novelty
    * table, pairJaccard's long route). Same rows
    * ([[shinglesOfDocsExploded]] is the retained independent anchor;
    * DedupSpec pins equality including the edge docs). */
  private[graft] def shinglesOfDocs(d: DataFrame): DataFrame =
    d.select(col("doc_id"), col("lang"),
      explode(graft.functions.DistinctGrams(col("text"), 3)).as("shingle"))

  /** The transform+explode+DISTINCT form of [[shinglesOfDocs]] —
    * retained as the independent implementation the kernel is
    * spec-pinned against, and the shape every shingle-family DuckDB
    * oracle mirrors. d02, the Jaccard family's oracle-anchor query,
    * deliberately stays on THIS form (its whole role is to be the
    * kernel-free exact twin). */
  private[graft] def shinglesOfDocsExploded(d: DataFrame): DataFrame =
    d.select(col("doc_id"), col("lang"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), col("lang"),
        explode(expr(
          """CASE WHEN size(t) < 3 THEN CAST(array() AS array<string>)
            |ELSE transform(sequence(0, size(t) - 3),
            |               i -> concat_ws(' ', t[i], t[i+1], t[i+2])) END"""
            .stripMargin)).as("shingle"))
      .distinct()

  /** d02's shingle source — the EXPLODED anchor form, never the kernel
    * (see [[shinglesOfDocsExploded]]). */
  private[queries] def shingles(s: SparkSession, dir: String): DataFrame =
    shinglesOfDocsExploded(docs(s, dir))

  private[queries] def shingleCounts(sh: DataFrame): DataFrame =
    sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))

  /** t06's content-hash split bucket (0–99), shared by every operator
    * that partitions on the deterministic train/valid/test assignment. */
  private[queries] def splitBucket = h32(col("text")) % 100

  /** Exact-Jaccard verification of candidate pairs against the true
    * shingle sets — the shared tail of d03 and d10 (column names of the
    * pair frame differ, arithmetic does not).
    *
    * The set-size aggregation (shingleCounts) deliberately runs over the
    * FULL shingle frame, not a candidate-restricted one. It looks like a
    * scale smell, but it is map-side combinable — the shuffle carries
    * one row per document, and the scan it rides is shared with the
    * pair-join branches — whereas restricting it needs the candidate id
    * set, whose derivation re-evaluates the banded-join subtree (the
    * heaviest stage here) two more times: measured +35% on t13 at sf0.1
    * for a second-order shuffle saving. Candidate-grain restriction is
    * the wrong trade as long as candidates come from a join over the
    * same lineage; it becomes right only when the candidate set arrives
    * MATERIALIZED (the streaming path's batch frame — which already
    * passes only batch + partner shingles in). */
  private[graft] def verifiedJaccard(cand: DataFrame, sh: DataFrame,
                              aCol: String, bCol: String): DataFrame = {
    val common = cand
      .join(sh.as("a"), col(aCol) === col("a.doc_id"))
      .join(sh.as("b"),
        col(bCol) === col("b.doc_id") && col("a.shingle") === col("b.shingle"))
      .groupBy(aCol, bCol).agg(count(lit(1)).as("c"))
    val cnt = shingleCounts(sh)
    cand.join(common, Seq(aCol, bCol), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .join(cnt.select(col("doc_id").as(aCol), col("n_sh").as("n_a")), aCol)
      .join(cnt.select(col("doc_id").as(bCol), col("n_sh").as("n_b")), bCol)
      .withColumn("jaccard_ppm",
        ppm(col("c"), col("n_a") + col("n_b") - col("c")))
      .select(aCol, bCol, "jaccard_ppm")
  }

  /** Per-group top-k by (score desc, id asc) via the typed map-side
    * MinKByKey aggregator — the scale-safe coarse-selection form of
    * `row_number() over (partition by group order by score desc, id)
    * <= k`. The window form shuffles EVERY candidate row into
    * ≤|groups| reducers — the ANN coarse passes feed it |Q|·|corpus|
    * rows, so once |corpus| ≫ |Q| a handful of reducers sort the
    * whole corpus (the q26 single-reducer cliff, measured again this
    * round on t26's 1.4M-row symmetrized frame). The aggregator keeps
    * ≤k rows per group per MAP task, so the exchange carries
    * O(|groups|·k) regardless of candidate volume. Output rows and
    * order are identical to the window's: ties break by id, scores
    * are exact integers, and MinKByKey's (k, id) ascending order with
    * k = −score reproduces (score desc, id asc) bit-for-bit.
    * `scoreName`/`rankName` name the recovered score (= −k) and the
    * 1-based rank; callers that only need ids drop them.
    *
    * The aggregate is the NATIVE [[graft.functions.MinKLongs]]
    * (TypedImperativeAggregate over a primitive-array heap), not the
    * typed MinKByKey udaf: the udaf form was measured this round to
    * pay a Catalyst↔Scala encoder round-trip per INPUT row — 2–3×
    * slower than the codegen'd window on 50k–500k-row coarse frames —
    * while the native form reads two longs off the InternalRow per
    * row.
    *
    * PRECONDITIONS (narrower than the window form it replaces —
    * ADVICE r17): `score` must be INTEGRAL (ppm scores here; a double
    * would be reordered by the long cast's truncation) and score/id
    * must be NON-NULL on every row (MinKLongs skips null inputs,
    * where the window's `desc` = NULLS LAST would still rank
    * null-scored rows into an under-full group's tail). Every current
    * call site feeds non-null integer ppm scores; a new caller with
    * nullable or fractional scores must pre-handle them.
    *
    * The native aggregate is the only form: the row_number window is
    * MinKLongsSpec's reference, which this must equal row for row, and
    * the same-build A/B (BENCH_AB_r18_topk_sf01/sf1) found the window
    * faster on no query. */
  private[graft] def topKPerGroup(df: DataFrame, group: String,
                                  score: org.apache.spark.sql.Column,
                                  id: String, k: Int,
                                  scoreName: String = "__score",
                                  rankName: String = "__rank"): DataFrame =
    df.groupBy(group)
      .agg(graft.functions.MinKLongs(
          (-score).cast("long"), col(id).cast("long"), k)
        .as("__top"))
      .select(col(group), posexplode(col("__top")).as(Seq("__pos", "__e")))
      .select(col(group), col("__e.id").as(id),
        (-col("__e.k")).as(scoreName),
        (col("__pos") + 1).cast("int").as(rankName))

  /** Embeddings quantized to integer parts-per-million so every sum is
    * exact and order-free (float accumulation order differs between
    * engines; integer sums cannot). Frame form shared with the streaming
    * semantic-dedup path so batch and stream agree bit-for-bit. */
  private[graft] def quantizeFrame(df: DataFrame): DataFrame =
    df.select(col("vec_id"),
      expr("transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000000 + 0.5) AS BIGINT))")
        .as("q"))
      .withColumn("s2", DotI64(col("q"), col("q")))

  private[queries] def quantized(s: SparkSession, dir: String): DataFrame =
    quantizeFrame(Tables.t(s, dir, "embeddings"))

  /** Integer dot product via the native codegen Expression (DotI64):
    * higher-order functions (zip_with/aggregate) fall out of whole-stage
    * codegen and allocate per-pair arrays — on an O(n²) pair join that
    * interpreted fold dominated the profile at sf0.1. */
  private[queries] def dot: org.apache.spark.sql.Column = DotI64(col("qa"), col("qb"))

  /** cos * 1e6 rounded to integer, from exact integer dot/norms; the only
    * float ops are sqrt/div/floor on identical inputs → identical output. */
  private[queries] val cosPpm =
    floor(col("dot") / (sqrt(col("sa")) * sqrt(col("sb"))) * lit(1000000.0) + lit(0.5))
      .cast("long")

  /** The FLAT √n-centroid seed frame — now s14's k-means operator
    * only (clustering a corpus into √n Lloyd-refined groups is that
    * query's own spec): every IVF/index/dedup path assigns through the
    * two-level [[coarseCodebooks]] instead, which keeps driver-side
    * state at 2·∜n rows. The √n analysis below holds for s14's
    * regime — a clustering job whose output IS the k=√n centroid set —
    * not as an "any corpus size" broadcastability claim: at 10¹²
    * vectors this frame is ~0.5 GB, which is exactly why the IVF
    * family moved off it.
    *
    * CARDINALITY IS THE LOAD-BEARING CHOICE. A fixed sampling stride
    * (an earlier revision used every-50th-vector) makes |centroids|
    * LINEAR in the corpus: at a billion vectors that is 20M centroids —
    * too big to broadcast, and the assignment crossJoin degenerates to
    * O(n²/stride) dot products, the exact quadratic class IVF exists to
    * avoid. Real IVF keeps k sublinear; √n balances the two costs that
    * pull against each other — assignment work n·k and per-probe cell
    * scans n/k — both O(n^1.5) total / O(√n) per query at k = √n. The
    * stride is derived from a count(*) (parquet metadata, no data scan)
    * and vectors are sampled by the portable 32-bit hash of their id —
    * stable under non-dense / non-uniform id spaces where a raw
    * `id % stride` would oversample or miss entirely.
    *
    * The centroid frame is √n rows of d ints: ~32k centroids × 768 dims
    * × 8 B ≈ 200 MB at a billion vectors — still a broadcastable dim
    * table, where the linear policy's 20M × 768 × 8 B ≈ 123 GB is not.
    *
    * The √n stride needs ONE count per corpus snapshot, memoized:
    * counting at every plan CONSTRUCTION (s03/s05/s07 and each
    * spec/bench iteration re-construct plans) ran a full count job each
    * time — and through the quantized() projection at that, not the raw
    * scan. The memoized count runs over the bare embeddings table
    * column-pruned to nothing, which parquet row-group metadata answers
    * without a data scan, keyed by the embeddings table's snapshot
    * ([[graft.Snapshot]]): a corpus that grew or was rewritten recounts,
    * so the stride follows the data. */
  private[graft] def corpusCountOf(s: SparkSession, dir: String): Long =
    Snapshot.memo(s, "corpusCount", Seq(s"$dir/embeddings.parquet")) {
      Tables.t(s, dir, "embeddings").count()
    }

  private[queries] def coarseCentroids(s: SparkSession, dir: String,
                              e: DataFrame): DataFrame = {
    val n = corpusCountOf(s, dir)
    val stride = math.max(1L, math.floor(math.sqrt(n.toDouble)).toLong)
    e.filter(h32(col("vec_id").cast("string")) % stride === 0)
      .select(col("vec_id").as("cent_id"), col("q").as("qc"), col("s2").as("sc"))
  }

  /** Distinct verbatim 8-token windows of a document frame — the gram
    * generator d09/t16 and the ingest-time contamination gate
    * (streaming.StreamingContamination) share, so batch and stream
    * agree bit-for-bit. Every non-`text` column is carried through
    * (d09/t16 ride the split bucket alongside doc_id). Kernel-backed
    * (the [[shinglesOfDocs]] rationale at n = 8): per-doc distinct in
    * the row scan, no corpus-wide DISTINCT exchange under the
    * contamination/novelty chain. [[grams8OfDocsExploded]] is the
    * retained anchor; DedupSpec pins equality. */
  private[graft] def grams8OfDocs(d: DataFrame): DataFrame = {
    val keep = d.columns.filter(_ != "text").map(col).toSeq
    d.select(keep :+
      explode(graft.functions.DistinctGrams(col("text"), 8)).as("gram"): _*)
  }

  /** The transform+explode+DISTINCT form of [[grams8OfDocs]] — the
    * kernel's independent spec anchor and the oracles' shape. */
  private[graft] def grams8OfDocsExploded(d: DataFrame): DataFrame = {
    val keep = d.columns.filter(_ != "text").map(col).toSeq
    d.withColumn("t", split(col("text"), " "))
      .select(keep :+ explode(expr(
        """CASE WHEN size(t) < 8 THEN CAST(array() AS array<string>)
          |ELSE transform(sequence(0, size(t) - 8),
          |  i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3],
          |                 t[i+4], t[i+5], t[i+6], t[i+7])) END"""
          .stripMargin)).as("gram"): _*)
      .distinct()
  }

  /** The distinct (doc, split-bucket, 8-gram) frame d09 and t16 share:
    * every verbatim 8-token window of every document, tagged with the
    * document's deterministic train/valid/test bucket. */
  private[queries] def grams8(s: SparkSession, dir: String): DataFrame =
    grams8OfDocs(docs(s, dir)
      .select(col("doc_id"), splitBucket.as("bucket"), col("text")))

  /** The Bloom sketch (fpp 1%) of a REFERENCE gram set, broadcast.
    * Memoized as `name` over the snapshot of `inputs` — the tables
    * `refGrams` reads — so a reference side that grew is re-sketched:
    * a stale sketch would silently drop NEW grams below the exact
    * join, and Bloom false negatives are MISSED CONTAMINATION (the one
    * error class the pre-pass contract forbids). Callers whose
    * `refGrams` differ over the same inputs MUST use distinct names.
    * Scoped to the owning SparkContext: a session stopped and rebuilt
    * in the same JVM must not serve a dead context's broadcast to its
    * executors (it fails remotely, long after the cause). */
  private[graft] def bloomSketch(s: SparkSession, name: String,
      inputs: Seq[String], refGrams: => DataFrame)
      : org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter] =
    Snapshot.memo(s, name, inputs, sparkState = true) {
      val ref = refGrams.persist()
      val bloom = try {
        val n = ref.count()
        ref.stat.bloomFilter("gram", math.max(n, 1000L), 0.01)
      } finally ref.unpersist()
      s.sparkContext.broadcast(bloom)
    }

  /** Broadcast-Bloom pre-filter of a gram frame against a REFERENCE gram
    * set: the sketch is built once on the reference side (the small
    * side — an eval suite in production; see [[bloomSketch]] for its
    * key), and `g`'s rows are filtered to possible members BELOW
    * whatever exact join the caller puts above — no false negatives
    * (Bloom never rejects a member), false positives rejected by that
    * exact join. The d09/t16 asymmetry, factored for every consumer
    * including the streaming gate. */
  private[graft] def bloomFiltered(s: SparkSession, name: String,
                                   inputs: Seq[String],
                                   refGrams: => DataFrame,
                                   g: DataFrame): DataFrame = {
    val bloomB = bloomSketch(s, name, inputs, refGrams)
    val mightContain = udf((gr: String) =>
      gr != null && bloomB.value.mightContainString(gr))
      .withName("bloom_might_contain")
    g.filter(mightContain(col("gram")))
  }

  /** Per-document contamination of a corpus against an EXTERNAL
    * reference suite (refDir — its own documents table, e.g. a held-out
    * benchmark): documents sharing ≥1 verbatim 8-gram with any
    * reference document, with the shared-gram count. d09 audits WITHIN
    * one corpus (train vs test split); this is the cross-corpus form a
    * deployment runs against each eval suite it must protect, and the
    * one-shot twin of the ingest-time gate
    * (streaming.StreamingContamination — spec-pinned ≡). Bloom on the
    * reference side (fixed, small), exact gram join above it. */
  def contaminationAgainst(s: SparkSession, corpusDir: String,
                           refDir: String): DataFrame = {
    val refGrams = grams8OfDocs(
        Tables.t(s, refDir, "documents").select("doc_id", "text"))
      .select("gram").distinct()
    val g = grams8OfDocs(docs(s, corpusDir).select("doc_id", "text"))
    bloomFiltered(s, "bloom#refgrams", Seq(s"$refDir/documents.parquet"),
      refGrams, g)
      .join(refGrams, "gram")
      .groupBy("doc_id")
      .agg(countDistinct(col("gram")).as("n_hit_grams"))
  }

  /** DuckDB twin of coarseCentroids' sampling predicate — s14's k-means
    * oracle only (the flat √n seed set is that operator's own spec);
    * every IVF-family oracle mirrors the two-level assigner via
    * [[imiCtes]] instead. */
  private[queries] val centsCte: String =
    """cents AS (
      |  SELECT vec_id FROM embeddings
      |  WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
      |        % (SELECT GREATEST(1, CAST(floor(sqrt(count(*))) AS BIGINT))
      |           FROM embeddings) = 0),
      |""".stripMargin

  /** DuckDB twin of [[coarseCodebooks]] + the per-half scoring chain
    * every IMI oracle shares: dense-numbered sub-codebooks (top-k by
    * (h32, id) per sub, salt "b" for sub 1 — same hash, same
    * sqrt(sqrt(n)) sizing, both engines' sqrt being IEEE-exact where
    * pow(n, 0.25) is not), half-split rows with within-half index j,
    * per-half integer-cosine scoring against the matching sub-codebook,
    * and the per-(vector, sub) rank hrank. Heavy frames MATERIALIZED —
    * hev feeds both sides of the book-dot join and hrank both sides of
    * the product-cell join, so default inlining would re-run the chain
    * multiplicatively (the d13 lesson). */
  private[queries] val imiCtes: String =
    """dims AS (SELECT MAX(i) AS d FROM ev),
      |books AS MATERIALIZED (
      |  SELECT sub, vec_id,
      |         row_number() OVER (PARTITION BY sub ORDER BY h, vec_id) - 1 AS cent_id
      |  FROM (
      |    SELECT 0 AS sub, vec_id,
      |           ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT AS h
      |    FROM embeddings
      |    UNION ALL
      |    SELECT 1 AS sub, vec_id,
      |           ('0x' || substr(md5(CAST(vec_id AS VARCHAR) || 'b'), 1, 8))::BIGINT AS h
      |    FROM embeddings)
      |  QUALIFY cent_id < (SELECT GREATEST(2, CAST(floor(sqrt(sqrt(count(*)))) AS BIGINT))
      |                     FROM embeddings)),
      |hev AS MATERIALIZED (
      |  SELECT e.vec_id, CASE WHEN e.i <= d.d // 2 THEN 0 ELSE 1 END AS sub,
      |         CASE WHEN e.i <= d.d // 2 THEN e.i ELSE e.i - d.d // 2 END AS j,
      |         e.v
      |  FROM ev e, dims d),
      |hsq AS MATERIALIZED (
      |  SELECT vec_id, sub, CAST(SUM(v * v) AS BIGINT) AS s2h
      |  FROM hev GROUP BY 1, 2),
      |hrank AS MATERIALIZED (
      |  SELECT vec_id, sub, cent_id,
      |         row_number() OVER (PARTITION BY vec_id, sub
      |           ORDER BY cos_ppm DESC, cent_id ASC) AS hr
      |  FROM (
      |    SELECT d.vec_id, d.sub, d.cent_id,
      |           CAST(floor(d.dot / (sqrt(x.s2h) * sqrt(y.s2h)) * 1000000 + 0.5) AS BIGINT) AS cos_ppm
      |    FROM (
      |      SELECT a.vec_id, bk.sub, bk.cent_id, bk.vec_id AS bvec,
      |             CAST(SUM(a.v * b.v) AS BIGINT) AS dot
      |      FROM hev a
      |      JOIN books bk ON bk.sub = a.sub
      |      JOIN hev b ON b.vec_id = bk.vec_id AND b.sub = bk.sub AND b.j = a.j
      |      GROUP BY 1, 2, 3, 4) d
      |    JOIN hsq x ON x.vec_id = d.vec_id AND x.sub = d.sub
      |    JOIN hsq y ON y.vec_id = d.bvec AND y.sub = d.sub) t),
      |""".stripMargin

  /** Product-cell ranking over [[imiCtes]]'s hrank: top `perHalf` per
    * half, cell = sub₀·2²⁰ + sub₁, ranked (hr₀+hr₁, hr₀, cell) — the
    * [[imiRank]] twin. `extra` restricts the vector side (probe
    * queries). */
  private[queries] def imiCellsCte(name: String, perHalf: Int,
                          extra: String = ""): String =
    s"""$name AS MATERIALIZED (
       |  SELECT a.vec_id, a.cent_id * 1048576 + b.cent_id AS cell,
       |         row_number() OVER (PARTITION BY a.vec_id
       |           ORDER BY a.hr + b.hr, a.hr, b.cent_id) AS rn
       |  FROM hrank a JOIN hrank b
       |    ON b.vec_id = a.vec_id AND a.sub = 0 AND b.sub = 1
       |  WHERE a.hr <= $perHalf AND b.hr <= $perHalf$extra),
       |""".stripMargin

  /** The serving-family assignment block: unique cell per corpus vector
    * (`assigned`), probe fan for the vec_id < 10 query rows (`probes`,
    * `nprobe` cells of the 25-cell P=5 product ranking). */
  private[queries] def imiAssignProbeCtes(nprobe: Int): String =
    imiCtes + imiCellsCte("acells", 1) +
      imiCellsCte("pcells", 5, " AND a.vec_id < 10") +
      s"""assigned AS (SELECT vec_id AS neighbor_id, cell FROM acells WHERE rn = 1),
         |probes AS (SELECT vec_id AS query_id, cell FROM pcells WHERE rn <= $nprobe),
         |""".stripMargin

  /** The dedup-family assignment block: s05's 4-cell multi-assignment
    * as the top-2 × top-2 product. */
  private[queries] val imiAssign4Ctes: String =
    imiCtes + imiCellsCte("acells", 2) +
      """assigned AS MATERIALIZED (
        |  SELECT vec_id, cell FROM acells WHERE rn <= 4),
        |""".stripMargin

  /** One greedy round of the s22 oracle's MMR unroll: from the pool
    * minus everything selected so far, pick the per-query argmax of
    * 7·rel − 3·max-sim-to-selected (ties by candidate id), and extend
    * the running selection. Mirrors the Spark loop round-for-round. */
  private[queries] def mmrRoundSql(k: Int): String =
    s"""sel$k AS MATERIALIZED (
       |  SELECT query_id, cand, rel, $k AS mmr_rank FROM (
       |    SELECT r.query_id, r.cand, r.rel,
       |           row_number() OVER (PARTITION BY r.query_id
       |             ORDER BY 7 * r.rel - 3 * COALESCE(m.maxsim, 0) DESC,
       |                      r.cand) AS rn
       |    FROM (SELECT p.* FROM pool p
       |          WHERE NOT EXISTS (SELECT 1 FROM selall${k - 1} s
       |                            WHERE s.query_id = p.query_id
       |                              AND s.cand = p.cand)) r
       |    LEFT JOIN (
       |      SELECT ps.query_id, ps.a AS cand, MAX(ps.sim) AS maxsim
       |      FROM ps JOIN selall${k - 1} s
       |        ON s.query_id = ps.query_id AND s.cand = ps.b
       |      GROUP BY 1, 2) m
       |    ON m.query_id = r.query_id AND m.cand = r.cand) t
       |  WHERE rn = 1),
       |selall$k AS MATERIALIZED (
       |  SELECT * FROM selall${k - 1} UNION ALL SELECT * FROM sel$k),
       |""".stripMargin

  /** One round of the d13 oracle's iterative min-label connected
    * components (the non-recursive twin of the Spark fixpoint): node x's
    * label becomes min over its own label, its neighbors' labels, and
    * its LABEL's label (pointer doubling — coverage grows geometrically
    * per round where plain neighbor propagation grows by one hop).
    * Linear work per round: one label row per node survives the GROUP
    * BY, unlike a recursive closure's (node, reachable-label) relation.
    * MATERIALIZED is load-bearing: each round references its
    * predecessor three times, so DuckDB's default CTE inlining would
    * expand the 7-round chain 3^7-fold (observed as a file-handle
    * blowup re-opening the parquet scan). */
  private[queries] def ccRoundSql(k: Int): String =
    s"""l$k AS MATERIALIZED (
       |  SELECT t.doc_id, MIN(t.lab) AS lab FROM (
       |    SELECT doc_id, lab FROM l${k - 1}
       |    UNION ALL
       |    SELECT e.doc_a AS doc_id, l.lab FROM e JOIN l${k - 1} l ON l.doc_id = e.doc_b
       |    UNION ALL
       |    SELECT a.doc_id, b.lab FROM l${k - 1} a JOIN l${k - 1} b ON b.doc_id = a.lab
       |  ) t GROUP BY 1),
       |""".stripMargin

  /** The coarse quantizer's TRAINED state as a writable frame — what an
    * offline quantizer-training job materializes for the streaming
    * semantic-dedup path to probe against (IVF systems train the
    * quantizer offline and stream assignments against it). Same
    * two-level codebook rule as coarseCodebooks, so a stream probing
    * this table and a one-shot s05 over the same corpus agree exactly. */
  private[graft] def trainedCentroids(s: SparkSession, dir: String): DataFrame =
    coarseCodebooks(s, dir, quantized(s, dir))

  /** Per-(vector, centroid) cosine with rank 1 = nearest cell over a
    * FLAT full-width centroid frame — retained for s14's k-means
    * operator (Lloyd refinement of √n seeds is that query's own spec);
    * every IVF/index/dedup path assigns through [[imiRank]]'s two-level
    * codebook instead, whose driver-side state stays ~∜n rows at any
    * corpus size. */
  private[graft] def centroidRank(v: DataFrame, cents: DataFrame,
                           idCol: String): DataFrame =
    v.crossJoin(broadcast(cents))
      .withColumn("dot", DotI64(col("q"), col("qc")))
      .withColumn("cos_ppm",
        floor(col("dot") / (sqrt(col("s2")) * sqrt(col("sc"))) * lit(1000000.0) + lit(0.5))
          .cast("long"))
      .withColumn("rn", row_number().over(Window.partitionBy(col(idCol))
        .orderBy(col("cos_ppm").desc, col("cent_id").asc)))

  /** Cell-id packing for the two-level (IMI-style) coarse quantizer:
    * cell = subcell₀ · 2²⁰ + subcell₁. Sub-codebooks are dense-numbered
    * from 0, so any codebook below 2²⁰ entries (a ~10²⁴-vector corpus)
    * packs collision-free into one BIGINT — the cell stays an ordinary
    * long join/partition key for every downstream consumer. */
  private[graft] val CellBase = 1048576L

  /** Spark-side slice expressions for the two vector halves (the IMI
    * subspaces). Integer `div` keeps odd dims correct: sub 0 takes
    * ⌊d/2⌋ dims, sub 1 the remainder. */
  private[queries] val sliceH0 = "slice(q, 1, size(q) div 2)"
  private[queries] val sliceH1 = "slice(q, (size(q) div 2) + 1, size(q) - (size(q) div 2))"

  /** The TWO-LEVEL coarse quantizer both IVF serving and semantic dedup
    * share (the inverted-multi-index construction, Babenko & Lempitsky
    * 2012): the vector space is split into two halves, each half gets
    * its own sub-codebook of k = max(2, ⌊∜n⌋) corpus-sampled
    * half-vectors, and a cell is a PAIR of sub-cell ids — ~√n effective
    * cells from 2·∜n stored rows.
    *
    * CARDINALITY IS THE LOAD-BEARING CHOICE, second iteration. The flat
    * predecessor held k = √n full-width centroids: per-cell density and
    * assignment-vs-probe balance were right (√n cells), but the
    * codebook itself grew as √n rows — ~0.5 GB to broadcast at 10¹²
    * vectors — and every (re)build paid an n·√n assignment pass, the
    * measured n^1.5 class (the old t26 exponent). The product structure
    * keeps the SAME ~√n cell count (so per-cell scan cost, probe recall
    * geometry, and every downstream cell-blocked join are unchanged in
    * shape) while the driver-side state drops to 2·∜n rows (~2·10³ at
    * 10¹² vectors — broadcastable at any realistic corpus size, with
    * the regime bound now explicit: collision-free packing holds to 2²⁰
    * entries per sub-codebook) and assignment work drops to n·2·∜n
    * half-width dots — out of the n^1.5 class entirely.
    *
    * Sub-codebook entries are chosen by portable-hash ORDER (the k
    * smallest (h32(id), id) per sub, salt "b" giving sub 1 an
    * independent order) rather than the old modulo stride: same
    * determinism, exactly-k entries with no sampling variance, and no
    * empty-codebook edge at small n. The top-k is a distributed
    * TakeOrdered, never a global sort. */
  private[graft] def coarseCodebooks(s: SparkSession, dir: String,
                                     e: DataFrame): DataFrame = {
    codebooksFrom(e, corpusCountOf(s, dir))
  }

  /** The codebook builder over an explicit already-quantized frame —
    * the chunk-grain index trains through this (its vectors never sit
    * in an embeddings table). k = max(2, ⌊√√n⌋): two IEEE sqrts, which
    * are correctly rounded in every engine, where pow(n, 0.25) is not —
    * the DuckDB twin must land on the identical k. The floor is 2, not
    * 4: the product of floored codebooks is 4 cells, which the
    * 12-probe fan still covers COMPLETELY, so a tiny corpus (planted
    * spec fixtures, a service's first wave) serves with exact recall —
    * a higher floor would mint more cells than probes at small n and
    * lose vectors a probe never visits. */
  private[graft] def codebooksFrom(e: DataFrame, n: Long): DataFrame = {
    val k = math.max(2L,
      math.floor(math.sqrt(math.sqrt(n.toDouble))).toLong).toInt
    def book(sub: Int, salt: String, slice: String) =
      e.select(col("vec_id"), expr(slice).as("qc"))
        .withColumn("__h",
          h32(concat(col("vec_id").cast("string"), lit(salt))))
        .orderBy(col("__h").asc, col("vec_id").asc)
        .limit(k)
        .select(lit(sub).as("sub"), col("vec_id"), col("__h"), col("qc"))
    val w = Window.partitionBy(col("sub"))
      .orderBy(col("__h").asc, col("vec_id").asc)
    book(0, "", sliceH0).unionByName(book(1, "b", sliceH1))
      .withColumn("cent_id", (row_number().over(w) - 1).cast("long"))
      .withColumn("sc", DotI64(col("qc"), col("qc")))
      .select("sub", "cent_id", "qc", "sc")
  }

  /** The sub-codebooks COLLECTED to the driver — ~2·∜n rows of
    * (dense id, half-vector, norm) per side, the broadcast-ADC size
    * class (∜10¹² ≈ 10³ rows of 32 longs ≈ 0.25 MB). Collecting them
    * is what lets [[imiRankB]] run cell assignment as a PURE NARROW
    * MAP: the codebooks ride inside the [[graft.functions.ImiCells]]
    * expression as plain JVM arrays — zero joins, zero shuffles, zero
    * windows in the assignment itself (the flat predecessor paid a
    * broadcast cross join plus an n·√n-row ranking window; the first
    * IMI cut paid a join + two windows + a self-pair join — measured
    * ~1 s of fixed stage overhead per query at bench grain; the
    * literal-array higher-order-function cut re-evaluated the nested
    * lambda per outer element — 2.5–5× slower than the join form). */
  private[graft] final case class ImiBooks(
      b0: Array[(Long, Array[Long], Long)],
      b1: Array[(Long, Array[Long], Long)])

  private[graft] def collectBooks(books: DataFrame): ImiBooks = {
    val rows = books.select(col("sub").cast("int"), col("cent_id"),
      col("qc"), col("sc")).collect()
    def side(s: Int): Array[(Long, Array[Long], Long)] = rows.toSeq
      .filter(_.getInt(0) == s)
      .map(r => (r.getLong(1), r.getSeq[Long](2).toArray, r.getLong(3)))
      .sortBy(_._1)
      .toArray
    ImiBooks(side(0), side(1))
  }

  /** Collected [[coarseCodebooks]] memoized over the embeddings
    * table's snapshot, like [[corpusCountOf]] (a stale codebook is
    * exactly a stale count's failure mode). `e` must be `dir`'s
    * quantized embeddings. */
  private[graft] def coarseBooks(s: SparkSession, dir: String,
                                 e: DataFrame): ImiBooks =
    Snapshot.memo(s, "coarseBooks", Seq(s"$dir/embeddings.parquet")) {
      collectBooks(coarseCodebooks(s, dir, e))
    }

  /** Two-level cell assignment: rank each vector's HALVES against the
    * matching sub-codebook (per-half integer cosine, the cosPpm idiom),
    * keep the top `perHalf` sub-cells per half, and emit the product
    * cells ranked by (rank₀+rank₁, rank₀, cell) — rank 1 is always the
    * (nearest, nearest) pair, invariant to `perHalf`. Callers pick
    * `perHalf` by intent: 1 for the unique serving cell, 2 for dedup's
    * 4-cell multi-assignment, 5 for probe fans up to 25 cells (s11's
    * nprobe=20 included).
    *
    * Scale shape: ONE narrow projection — the whole per-half ranking
    * and product enumeration runs inside the native
    * [[graft.functions.ImiCells]] expression (per row: 2·∜n half-width
    * dots, two perHalf-selection passes, an anti-diagonal product emit
    * — no per-entry allocation, child stays codegen'd), then one
    * posexplode. No join, no shuffle, no window: the corpus flows
    * through untouched, exactly the "assignment is a narrow map over
    * the corpus" shape the IVF scaladocs promise. Returns `v`'s
    * columns plus (cent_id = packed cell, rn). */
  private[graft] def imiRankB(v: DataFrame, bk: ImiBooks, idCol: String,
                              perHalf: Int): DataFrame =
    v.select(v.columns.map(col) :+
        posexplode(ImiCells(col("q"), bk.b0, bk.b1, perHalf))
          .as(Seq("__pos", "cent_id")): _*)
      .withColumn("rn", (col("__pos") + 1).cast("int"))
      .drop("__pos")

  /** [[imiRankB]] over an uncollected codebook frame — callers that
    * read the quantizer from a store (the streaming assignment path,
    * the index sidecars) pass the frame; the collect is 2·∜n rows. */
  private[graft] def imiRank(v: DataFrame, books: DataFrame, idCol: String,
                             perHalf: Int): DataFrame =
    imiRankB(v, collectBooks(books), idCol, perHalf)

}
