package graft

import graft.queries.Extensions

/** The materialized ANN index (s08) must be a pure STORAGE change:
  * same probes, same prefix cut, same exact rerank as s07 — only where
  * the corpus-wide cell assignment comes from differs (read vs
  * recomputed). Row-for-row equality pins that; if it holds, s08
  * inherits s07's measured recall (0.640 on sf0.01) by construction.
  * The partition-pruning shape of the index scan is pinned in PlanSpec. */
class AnnIndexSpec extends SparkSpec {

  test("s08 (indexed) ≡ s07 (recomputed) row-for-row (sf0.001)") {
    val dir = sf("sf0.001")
    assertSameRows(
      Extensions.annIvfPrefix(spark, dir),
      Extensions.annIvfIndexed(spark, dir),
      "s08 vs s07 at sf0.001")
  }

  test("s08 (indexed) ≡ s07 (recomputed) row-for-row (sf0.01)") {
    val dir = sf("sf0.01")
    assertSameRows(
      Extensions.annIvfPrefix(spark, dir),
      Extensions.annIvfIndexed(spark, dir),
      "s08 vs s07 at sf0.01")
  }

  test("s08 (indexed) ≡ s07 (recomputed) row-for-row (sf0.1, bench scale)") {
    // The equivalence must hold at the scale the benchmark measures —
    // a scale-dependent bug (overflow, tie flip, partition skew) in
    // either path would be invisible to the smaller-SF pins.
    val dir = sf("sf0.1")
    assertSameRows(
      Extensions.annIvfPrefix(spark, dir),
      Extensions.annIvfIndexed(spark, dir),
      "s08 vs s07 at sf0.1")
  }

  test("s17 (index-served SQ8) ≡ s15 (recomputed) row-for-row at all SFs") {
    // The stored `codes`/`css` columns plus the `_sq8` range sidecar
    // must be a pure storage change against s15: same probes, same
    // code-scored top-100 (reconstruction from stored codes ≡ recomputed
    // vh — exact integer arithmetic both ways), same exact rerank. The
    // sf0.1 leg guards scale-dependent bugs (overflow, tie flips) the
    // smaller SFs can't see.
    for (d <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val dir = sf(d)
      assertSameRows(
        Extensions.annIvfSq8(spark, dir),
        Extensions.annIvfSq8Indexed(spark, dir),
        s"s17 vs s15 at $d")
    }
  }

  test("s12 (filtered, index-served) ≡ s11 (recomputed) row-for-row") {
    // Filtered serving must be a pure storage change too: s11 joins the
    // corpus-grain label frame and recomputes assignment per invocation,
    // s12 reads both from the index rows (label is an index column).
    // Same probes (the sidecar quantizer IS the batch quantizer for the
    // memoized dir index), same label filter at candidate grain, same
    // rerank — so identical output, at both SFs.
    for (d <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val dir = sf(d)
      assertSameRows(
        Extensions.annIvfFiltered(spark, dir),
        Extensions.annIvfFilteredIndexed(spark, dir),
        s"s12 vs s11 at $d")
    }
  }

  test("append-maintained index ≡ rebuild under the frozen quantizer; s08 serves identically") {
    import org.apache.spark.sql.functions.col
    // Build the index over HALF the corpus, grow the corpus, then extend
    // the index both ways the contract offers — explicit new-batch and
    // anti-join discovery — and pin both against a ground-truth rebuild
    // under the SAME sidecar quantizer (the epoch contract: append never
    // changes the centroid set, so the maintained rows must equal what a
    // from-scratch assignment under that set produces, row for row,
    // including the rn>1 thin membership rows and their NULL payloads).
    val src = sf("sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("graft-annappend").toString
    val emb = Tables.t(spark, src, "embeddings")
    emb.filter(col("vec_id") % 2 === 0).write.parquet(s"$dir/embeddings.parquet")
    val base = java.nio.file.Files.createTempDirectory("graft-annidx-t").toString
    val byDiscovery = s"$base/discovered"
    val byBatch = s"$base/batch"
    val rebuilt = s"$base/rebuilt"
    Extensions.buildAnnIndex(spark, dir, byDiscovery)
    Extensions.buildAnnIndex(spark, dir, byBatch)
    val odds = emb.filter(col("vec_id") % 2 === 1)
    odds.write.mode("append").parquet(s"$dir/embeddings.parquet")
    Extensions.appendAnnIndex(spark, dir, byDiscovery)
    Extensions.appendAnnIndex(spark, dir, byBatch, newVectors = Some(odds))
    // The ground-truth rebuild freezes ALL THREE epochs the append ran
    // under: the sidecar quantizer, the SQ8 ranges, and the PQ
    // codebooks (both code payloads are epoch-dependent — a rebuild
    // deriving fresh ones from the grown corpus would legitimately
    // differ; that is the retrain-class event, not the append
    // contract).
    Extensions.buildAnnIndexFrom(
      Extensions.quantizeFrame(Tables.t(spark, dir, "embeddings")),
      Extensions.sidecarOf(spark, byDiscovery, "_quantizer"), rebuilt,
      meta = Extensions.metaOf(Tables.t(spark, dir, "embeddings")),
      sq8 = Some(Extensions.sidecarOf(spark, byDiscovery, "_sq8")),
      pq = Some(Extensions.sidecarOf(spark, byDiscovery, "_pq")))
    val expected = spark.read.parquet(rebuilt)
    assert(expected.columns.sorted.toSeq ==
      Seq("cell", "codes", "css", "label", "pq", "qp", "rn", "s2", "sp",
        "spq", "vec_id"),
      "the sidecars leaked into the index read, or a code payload is missing")
    assertSameRows(spark.read.parquet(byDiscovery), expected,
      "anti-join-appended index vs frozen-quantizer rebuild")
    assertSameRows(spark.read.parquet(byBatch), expected,
      "batch-appended index vs frozen-quantizer rebuild")
    assertSameRows(
      Extensions.annIvfIndexedAt(spark, dir, byDiscovery),
      Extensions.annIvfIndexedAt(spark, dir, rebuilt),
      "s08 served off the appended index vs off the rebuild")
    assertSameRows(
      Extensions.annIvfSq8IndexedAt(spark, dir, byDiscovery),
      Extensions.annIvfSq8IndexedAt(spark, dir, rebuilt),
      "s17 served off the appended index vs off the rebuild")

    // Compaction: a crash-replayed append physically duplicates its
    // batch (the one duplicate source the layout admits); compaction
    // must absorb it, collapse each cell's accumulated append files,
    // keep the sidecar, and leave serving untouched.
    Extensions.appendAnnIndex(spark, dir, byBatch, newVectors = Some(odds))
    assert(spark.read.parquet(byBatch).count() > expected.count(),
      "replayed append should physically duplicate rows pre-compaction")
    assert(Extensions.tryCompactAnnIndex(spark, byBatch),
      "quiesced index compaction must land")
    assertSameRows(spark.read.parquet(byBatch), expected,
      "compacted index vs frozen-quantizer rebuild (replay absorbed)")
    assertSameRows(
      Extensions.sidecarOf(spark, byBatch, "_quantizer"),
      Extensions.sidecarOf(spark, rebuilt, "_quantizer"),
      "compaction must carry the sidecar unchanged")
    assertSameRows(
      Extensions.sidecarOf(spark, byBatch, "_sq8"),
      Extensions.sidecarOf(spark, rebuilt, "_sq8"),
      "compaction must carry the SQ8 range sidecar unchanged")
    assertSameRows(
      Extensions.sidecarOf(spark, byBatch, "_pq"),
      Extensions.sidecarOf(spark, rebuilt, "_pq"),
      "compaction must carry the PQ codebook sidecar unchanged")
    assertSameRows(
      Extensions.annIvfIndexedAt(spark, dir, byBatch),
      Extensions.annIvfIndexedAt(spark, dir, rebuilt),
      "s08 served off the compacted index vs off the rebuild")
    val cellDirs = new java.io.File(byBatch).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty, "compacted index lost its cell partitioning")
    cellDirs.foreach { d =>
      val n = d.listFiles().count(_.getName.endsWith(".parquet"))
      assert(n <= 2, s"${d.getName}: $n files after compaction")
    }
  }

  test("chunk-grain index: build + append ≡ frozen-epoch rebuild; serving finds the twin") {
    import org.apache.spark.sql.functions._
    // RAG serving indexes chunks, not documents: the same layout, build,
    // append, and read paths must work at chunk grain over the derived
    // integer chunk vectors (no quantizeFrame, no labels) — the
    // grain-agnostic cores (buildAnnIndexFrom / appendAnnIndexFrom /
    // annIvfIndexedOver) are exercised directly.
    val src = sf("sf0.001")
    val cv = Extensions.chunkVectors(spark, src)
      .select("vec_id", "q", "s2").persist()
    try {
      val half = cv.filter(pmod(col("vec_id"), lit(2)) === 0)
      // The chunk corpus trains its own coarse quantizer: the IMI
      // sub-codebooks over the half it is built over (the
      // coarseCodebooks rule at frame grain).
      val cents = Extensions.codebooksFrom(half, half.count())
      val base = java.nio.file.Files.createTempDirectory("graft-chunkidx")
        .toString
      val grown = s"$base/grown"
      val rebuilt = s"$base/rebuilt"
      Extensions.buildAnnIndexFrom(half, cents, grown)
      Extensions.appendAnnIndexFrom(spark, grown,
        cv.filter(pmod(col("vec_id"), lit(2)) === 1))
      // Ground truth: full chunk corpus under ALL frozen epochs (the
      // half-corpus quantizer, its SQ8 ranges, its PQ codebooks).
      Extensions.buildAnnIndexFrom(cv, cents, rebuilt,
        sq8 = Some(Extensions.sidecarOf(spark, grown, "_sq8")),
        pq = Some(Extensions.sidecarOf(spark, grown, "_pq")))
      assertSameRows(spark.read.parquet(grown), spark.read.parquet(rebuilt),
        "chunk-grain appended index vs frozen-epoch rebuild")
      // Serving: every query chunk (docs < 10 → vec_id < 10·4096) must
      // find an exact twin at rank 1 — itself, or an identical repeated
      // chunk with a smaller id (d15 proves such chunks exist), either
      // way at cos 1e6: the index located an exact duplicate of the
      // query vector through the pruned read.
      val queries = cv.filter(col("vec_id") < 10 * 4096)
      val r1 = Extensions.annIvfIndexedOver(spark, cv, queries, grown,
        excludeSelf = false, k = 1).persist()
      try {
        assert(r1.count() == queries.count(), "a query chunk lost its rank-1 row")
        assert(r1.filter(col("cos_ppm") =!= 1000000L).count() == 0,
          "a query chunk's rank-1 neighbor is not an exact twin")
      } finally r1.unpersist()
    } finally cv.unpersist()
  }

  test("external-query serving: corpus parity with excludeSelf, twin-first without") {
    import org.apache.spark.sql.functions.col
    val dir = sf("sf0.001")
    val idxPath = java.nio.file.Files.createTempDirectory("graft-annext")
      .toString + "/idx"
    Extensions.buildAnnIndex(spark, dir, idxPath)
    val corpusQ = Tables.t(spark, dir, "embeddings").filter(col("vec_id") < 10)

    // The corpus form is the general entry at (corpus rows, excludeSelf):
    // the refactor must be a pure parameterization.
    assertSameRows(
      Extensions.annIvfIndexedQueries(spark, dir, corpusQ, idxPath,
        excludeSelf = true),
      Extensions.annIvfIndexedAt(spark, dir, idxPath),
      "general entry at corpus queries vs corpus form")

    // External queries: the same vectors under a disjoint id space. With
    // no self-exclusion each query's nearest neighbor IS its corpus twin
    // at exact cosine 1 — rank 1, cos_ppm 1e6 (the data has no exact
    // duplicates among these ids, checked offline); its absence would
    // mean external serving excluded or mis-scored a true neighbor.
    val ext = corpusQ.select((col("vec_id") + 500000).as("vec_id"),
      col("embedding"))
    val r1 = Extensions.annIvfIndexedQueries(spark, dir, ext, idxPath)
      .filter(col("rank") === 1).persist()
    try {
      assert(r1.count() == corpusQ.count(), "a query lost its rank-1 row")
      assert(r1.filter(col("neighbor_id") =!= col("query_id") - 500000 ||
          col("cos_ppm") =!= 1000000L).count() == 0,
        "an external query did not rank its identical corpus twin first")
    } finally r1.unpersist()
  }

  test("external FILTERED serving: the request's label gates the twin") {
    import org.apache.spark.sql.functions.col
    val dir = sf("sf0.001")
    val idxPath = java.nio.file.Files.createTempDirectory("graft-annextf")
      .toString + "/idx"
    Extensions.buildAnnIndex(spark, dir, idxPath)
    val corpusQ = Tables.t(spark, dir, "embeddings").filter(col("vec_id") < 10)

    // The corpus form is the general entry at (corpus rows, excludeSelf).
    assertSameRows(
      Extensions.annIvfFilteredQueries(spark, dir, corpusQ, idxPath,
        excludeSelf = true),
      Extensions.annIvfFilteredIndexed(spark, dir),
      "general filtered entry at corpus queries vs s12")

    // Same vectors under a disjoint id space, requesting their twin's
    // label: the twin (exact cosine 1, matching label) must rank first.
    val sameLabel = corpusQ.select((col("vec_id") + 500000).as("vec_id"),
      col("embedding"), col("label"))
    val r1 = Extensions.annIvfFilteredQueries(spark, dir, sameLabel, idxPath)
      .filter(col("rank") === 1).persist()
    try {
      assert(r1.count() == corpusQ.count(), "a query lost its rank-1 row")
      assert(r1.filter(col("neighbor_id") =!= col("query_id") - 500000 ||
          col("cos_ppm") =!= 1000000L).count() == 0,
        "a filtered external query did not rank its same-label twin first")
    } finally r1.unpersist()

    // Requesting a DIFFERENT label: the filter must actually filter —
    // the twin is excluded and every neighbor carries the requested
    // label (verified against the corpus's own label table).
    val otherLabel = corpusQ.select((col("vec_id") + 500000).as("vec_id"),
      col("embedding"), ((col("label") + 1) % 10).as("label"))
    val res = Extensions.annIvfFilteredQueries(spark, dir, otherLabel, idxPath)
      .persist()
    try {
      assert(res.filter(col("neighbor_id") === col("query_id") - 500000)
          .count() == 0,
        "a cross-label twin leaked through the label filter")
      val labs = Tables.t(spark, dir, "embeddings")
        .select(col("vec_id").as("neighbor_id"), col("label").as("n_label"))
      assert(res.join(labs, "neighbor_id")
          .filter(col("n_label") =!= col("label")).count() == 0,
        "a neighbor outside the requested label was returned")
    } finally res.unpersist()
  }

  test("memoized index rebuild sees corpus growth with no invalidate call") {
    // Grow a copy of the corpus after the index is built: the index memo
    // (and the corpus count under it) is keyed by the embeddings table's
    // snapshot, so the next read must rebuild and contain the new
    // vectors. Each appended vector is an exact copy of an original at
    // a shifted id, so post-growth the true top-5 of every query
    // CONTAINS shifted ids (cos = 1.0 with the twin) — their absence
    // would prove the rebuild served stale assignments.
    val src = sf("sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("graft-anngrow").toString
    val emb = Tables.t(spark, src, "embeddings")
    emb.write.parquet(s"$dir/embeddings.parquet")
    val before = Extensions.annIvfIndexed(spark, dir).count()
    emb.withColumn("vec_id",
        org.apache.spark.sql.functions.col("vec_id") + 100000)
      .write.mode("append").parquet(s"$dir/embeddings.parquet")
    val grownDf = Extensions.annIvfIndexed(spark, dir)
    assert(grownDf.count() == before,
      "top-5-per-query grain changed across the rebuild")
    val shifted = grownDf
      .filter(org.apache.spark.sql.functions.col("neighbor_id") >= 100000)
      .count()
    assert(shifted > 0,
      "rebuilt index returned no post-growth neighbors — rebuild is stale")
  }
}
