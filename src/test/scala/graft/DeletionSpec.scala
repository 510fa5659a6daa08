package graft

import graft.queries.Extensions
import graft.streaming.{CorpusService, NoveltyTable}
import org.apache.spark.sql.functions._

/** The deletion path through the maintained corpus — the lifecycle verb
  * takedowns and recrawl-replacements need at 100 TB (the reference's
  * S8 reset at service grain, without the retrain): deleteDocs must
  * make every SERVED surface equal a rebuild-without-the-docs twin
  * under the SAME epoch (deletion is not a retrain), purgeTombstoned
  * must physically remove the rows WITHOUT changing what serving
  * returns, and the permanent discovery gates must keep the append-only
  * corpus store from resurrecting purged docs. */
class DeletionSpec extends SparkSpec {

  private val dels = Seq(3L, 17L, 42L)

  test("deleted docs leave ANN + hybrid serving ≡ rebuild-without twins; purge is invisible") {
    val src = sf("sf0.001")
    val baseA = java.nio.file.Files.createTempDirectory("graft-delA").toString
    val pA = CorpusService.Paths(baseA)
    val docs = Tables.t(spark, src, "documents").select("doc_id", "text", "lang")
    val emb = Tables.t(spark, src, "embeddings")
    docs.write.parquet(pA.docs)
    emb.write.parquet(pA.embeddings)
    CorpusService.trainQuantizer(spark, pA)
    CorpusService.drainAvailable(spark, pA, index = true, postings = true)
    // External queries: ten corpus vectors under disjoint ids, one of
    // them a deleted doc's own vector (the takedown target must not
    // even retrieve itself).
    val queries = emb.filter(col("vec_id") < 9 || col("vec_id") === 3)
      .select((col("vec_id") + 900000).as("vec_id"), col("embedding"))
    CorpusService.deleteDocs(spark, pA, dels)
    val served = CorpusService.annTopKFor(spark, pA, queries).persist()
    try {
      // Nothing deleted is served...
      assert(served.filter(col("neighbor_id").isin(dels: _*)).count() == 0,
        "a deleted doc was served from the index")
      // ...and the result is ROW-FOR-ROW the index rebuilt WITHOUT the
      // docs under the SAME frozen epoch (sidecar quantizer + SQ8/PQ
      // ranges carried — deletion must not move the epoch).
      val twin = java.nio.file.Files
        .createTempDirectory("graft-delA-twin").toString + "/idx"
      val embLive = emb.filter(!col("vec_id").isin(dels: _*))
      Extensions.buildAnnIndexFrom(
        Extensions.quantizeFrame(embLive),
        Extensions.sidecarOf(spark, pA.annIndex, "_quantizer"), twin,
        meta = Extensions.metaOf(embLive),
        sq8 = Some(Extensions.sidecarOf(spark, pA.annIndex, "_sq8")),
        pq = Some(Extensions.sidecarOf(spark, pA.annIndex, "_pq")))
      assertSameRows(served,
        Extensions.annIvfIndexedQueries(spark, baseA, queries, twin),
        "post-delete ANN serving vs rebuild-without-the-docs twin")
      // Hybrid (exact dial): ≡ a service over the corpus WITHOUT the
      // docs — posting stats, doc count, and the vector scan all follow
      // the live corpus.
      val baseB = java.nio.file.Files.createTempDirectory("graft-delB").toString
      val pB = CorpusService.Paths(baseB)
      docs.filter(!col("doc_id").isin(dels: _*)).write.parquet(pB.docs)
      emb.filter(!col("vec_id").isin(dels: _*)).write.parquet(pB.embeddings)
      assert(CorpusService.maintainPostings(spark, pB) > 0)
      val hq = Tables.t(spark, baseA, "documents")
        .filter(col("doc_id") < 9 || col("doc_id") === 3)
        .select((col("doc_id") + 900000).as("vec_id"), col("text"))
        .join(queries, "vec_id")
      assertSameRows(
        CorpusService.hybridTopKFor(spark, pA, hq, vectorExact = true),
        CorpusService.hybridTopKFor(spark, pB, hq, vectorExact = true),
        "post-delete hybrid vs corpus-without-the-docs twin")
      // The purge physically removes rows from every store WITHOUT
      // changing what serving returns. The pre-purge result is kept as
      // a VALUE (collected rows), not a live plan, and the persisted
      // frame is dropped BEFORE the purge: a cached plan over the
      // old file listing would otherwise be substituted (sameResult
      // matches on root paths) into post-purge queries and recompute
      // against deleted files on eviction.
      val servedSnap = spark.createDataFrame(
        spark.sparkContext.parallelize(served.collect().toSeq),
        served.schema)
      served.unpersist(blocking = true)
      assert(CorpusService.purgeTombstoned(spark, pA),
        "quiesced purge must land")
      assert(spark.read.parquet(pA.annIndex)
        .filter(col("vec_id").isin(dels: _*)).count() == 0,
        "purge left deleted rows in the ann index")
      assert(spark.read.parquet(pA.postings)
        .filter(col("doc_id").isin(dels: _*)).count() == 0,
        "purge left deleted rows in the posting log")
      assert(spark.read.parquet(pA.sigs)
        .filter(col("doc_id").isin(dels: _*)).count() == 0,
        "purge left deleted rows in the dedup signature log")
      assert(spark.read.parquet(pA.assigns)
        .filter(col("vec_id").isin(dels: _*)).count() == 0,
        "purge left deleted rows in the assignment log")
      assertSameRows(CorpusService.annTopKFor(spark, pA, queries), servedSnap,
        "purge changed ANN serving")
      // Idempotence: a replayed delete + purge is a no-op.
      CorpusService.deleteDocs(spark, pA, dels)
      assert(CorpusService.purgeTombstoned(spark, pA))
      assertSameRows(CorpusService.annTopKFor(spark, pA, queries), servedSnap,
        "replayed delete+purge changed ANN serving")
      // Index refresh after the purge must not resurrect the docs from
      // the (append-only, still-complete) corpus store.
      CorpusService.refreshAnnIndex(spark, pA)
      assert(spark.read.parquet(pA.annIndex)
        .filter(col("vec_id").isin(dels: _*)).count() == 0,
        "refreshAnnIndex re-indexed purged docs")
    } finally served.unpersist()
  }

  test("post-delete dedup report, canonical, and manifest ≡ without-the-docs twins") {
    val src = sf("sf0.001")
    val baseA = java.nio.file.Files.createTempDirectory("graft-delC").toString
    val pA = CorpusService.Paths(baseA)
    val docs = Tables.t(spark, src, "documents").select("doc_id", "text", "lang")
    val emb = Tables.t(spark, src, "embeddings")
    docs.write.parquet(pA.docs)
    emb.write.parquet(pA.embeddings)
    CorpusService.trainQuantizer(spark, pA)
    CorpusService.drainAvailable(spark, pA)
    val pre = CorpusService.dedupReport(spark, pA).persist()
    val preCount = pre.count()
    CorpusService.deleteDocs(spark, pA, dels)
    // The report post-delete ≡ the report pre-delete minus every pair
    // touching a deleted doc (pair rows are content functions of their
    // two docs — nothing else may move).
    assertSameRows(CorpusService.dedupReport(spark, pA),
      pre.filter(!col("doc_a").isin(dels: _*) &&
        !col("doc_b").isin(dels: _*)),
      "post-delete dedup report vs pre-delete minus deleted pairs")
    assert(preCount > 0, "fixture corpus must have discovered pairs")
    pre.unpersist()
    // Canonical + manifest refreshed post-delete ≡ a service that never
    // ingested the docs (verbatim modality: LSH pairs are content
    // functions, so the reduced corpus discovers exactly the surviving
    // pair set).
    CorpusService.refreshCanonicalCorpus(spark, pA)
    CorpusService.refreshTrainingSet(spark, pA)
    val baseB = java.nio.file.Files.createTempDirectory("graft-delD").toString
    val pB = CorpusService.Paths(baseB)
    docs.filter(!col("doc_id").isin(dels: _*)).write.parquet(pB.docs)
    emb.filter(!col("vec_id").isin(dels: _*)).write.parquet(pB.embeddings)
    CorpusService.trainQuantizer(spark, pB)
    CorpusService.drainAvailable(spark, pB)
    CorpusService.refreshCanonicalCorpus(spark, pB)
    CorpusService.refreshTrainingSet(spark, pB)
    assertSameRows(CorpusService.canonicalCorpusView(spark, pA),
      CorpusService.canonicalCorpusView(spark, pB),
      "post-delete canonical vs never-ingested twin")
    assertSameRows(CorpusService.trainingSetView(spark, pA),
      CorpusService.trainingSetView(spark, pB),
      "post-delete manifest vs never-ingested twin")
  }

  test("delete gates the training-pair export and the scrubbed payload; purge reaches p.scrubbed") {
    val src = sf("sf0.001")
    val base = java.nio.file.Files.createTempDirectory("graft-delF").toString
    val p = CorpusService.Paths(base)
    val docs = Tables.t(spark, src, "documents").select("doc_id", "text", "lang")
    val emb = Tables.t(spark, src, "embeddings")
    docs.write.parquet(p.docs)
    emb.write.parquet(p.embeddings)
    CorpusService.trainQuantizer(spark, p)
    CorpusService.drainAvailable(spark, p, index = true, postings = true)
    CorpusService.refreshTrainingSet(spark, p)
    CorpusService.refreshScrubbedCorpus(spark, p)
    // Pick deletions guaranteed to appear in the pre-delete export so
    // the gate is exercised, not vacuous.
    val pre = CorpusService.hardNegativesReport(spark, p)
    val hot = pre.limit(1).collect()(0)
    val dels2 = Seq(hot.getAs[Long]("doc_id"), hot.getAs[Long]("negative_id"))
    CorpusService.deleteDocs(spark, p, dels2)
    // IMMEDIATELY (pre-purge): no deleted doc as anchor OR negative —
    // a training-pair export is exactly the artifact a takedown must
    // not leak into, and it ≡ the report off the index rebuilt without
    // the docs under the same epoch (content-function of the live set).
    val post = CorpusService.hardNegativesReport(spark, p)
    assert(post.filter(col("doc_id").isin(dels2: _*) ||
      col("negative_id").isin(dels2: _*)).count() == 0,
      "deleted doc leaked into the hard-negative training pairs")
    // A minus-filter of the pre-delete report is NOT the oracle here —
    // deleting a doc from the candidate pool re-ranks every survivor's
    // top-3 window. The twin is the report off the index rebuilt
    // WITHOUT the docs under the SAME frozen epoch.
    val twin = java.nio.file.Files
      .createTempDirectory("graft-delF-twin").toString + "/idx"
    val embLive = emb.filter(!col("vec_id").isin(dels2: _*))
    Extensions.buildAnnIndexFrom(
      Extensions.quantizeFrame(embLive),
      Extensions.sidecarOf(spark, p.annIndex, "_quantizer"), twin,
      meta = Extensions.metaOf(embLive),
      sq8 = Some(Extensions.sidecarOf(spark, p.annIndex, "_sq8")),
      pq = Some(Extensions.sidecarOf(spark, p.annIndex, "_pq")))
    assertSameRows(post, Extensions.hardNegativesAt(spark, base, twin),
      "post-delete hard negatives vs rebuild-without-the-docs twin")
    // The scrubbed payload (full clean_text!) gates at view grain
    // immediately too...
    assert(CorpusService.scrubbedCorpusView(spark, p)
      .filter(col("doc_id").isin(dels2: _*)).count() == 0,
      "deleted doc's clean_text still served from the scrubbed view")
    // ...and the purge physically removes its bytes from the store.
    assert(CorpusService.purgeTombstoned(spark, p), "purge must land")
    assert(spark.read.parquet(p.scrubbed)
      .filter(col("doc_id").isin(dels2: _*)).count() == 0,
      "purge left deleted clean_text bytes in the scrubbed store")
  }

  test("tokenizer + CMS artifacts converge to rebuild-without-the-docs on delete/purge") {
    val src = sf("sf0.001")
    val baseA = java.nio.file.Files.createTempDirectory("graft-delH").toString
    val pA = CorpusService.Paths(baseA)
    val docs = Tables.t(spark, src, "documents").select("doc_id", "text", "lang")
    docs.write.parquet(pA.docs)
    CorpusService.refreshTokenizer(spark, pA)
    CorpusService.refreshTokenSketch(spark, pA)
    CorpusService.deleteDocs(spark, pA, dels)
    // The token-count view gates immediately (pre-purge).
    assert(CorpusService.tokenCounts(spark, pA)
      .filter(col("doc_id").isin(dels: _*)).count() == 0,
      "deleted docs still served by tokenCounts")
    // The purge SUBTRACTS the deleted docs' partial sketch — the merged
    // CMS equals, bucket-for-bucket, the sketch of a corpus that never
    // held them (linear-sketch exactness, not an approximation claim).
    assert(CorpusService.purgeTombstoned(spark, pA), "purge must land")
    val without = docs.filter(!col("doc_id").isin(dels: _*))
    assertSameRows(CorpusService.tokenSketchView(spark, pA),
      Extensions.cmsSketchOf(without),
      "post-purge CMS vs never-ingested sketch")
    // Replayed delete + purge must not double-subtract ("purged"
    // markers ride the same append as the negative partial)...
    CorpusService.deleteDocs(spark, pA, dels)
    assert(CorpusService.purgeTombstoned(spark, pA))
    assertSameRows(CorpusService.tokenSketchView(spark, pA),
      Extensions.cmsSketchOf(without),
      "replayed purge double-subtracted the CMS")
    // ...and the next sketch drain must not re-ingest the purged docs
    // from the (still-complete, append-only) corpus store.
    CorpusService.refreshTokenSketch(spark, pA)
    assertSameRows(CorpusService.tokenSketchView(spark, pA),
      Extensions.cmsSketchOf(without),
      "sketch maintenance resurrected purged docs")
    // The next tokenizer retrain converges the stored merge artifact —
    // and with it the served token counts — to a service that never
    // ingested the docs.
    CorpusService.refreshTokenizer(spark, pA)
    val baseB = java.nio.file.Files.createTempDirectory("graft-delI").toString
    val pB = CorpusService.Paths(baseB)
    without.write.parquet(pB.docs)
    CorpusService.refreshTokenizer(spark, pB)
    assertSameRows(spark.read.parquet(pA.bpeVocab),
      spark.read.parquet(pB.bpeVocab),
      "post-purge retrained merge list vs never-ingested twin")
    assertSameRows(CorpusService.tokenCounts(spark, pA),
      CorpusService.tokenCounts(spark, pB),
      "post-purge token counts vs never-ingested twin")
  }

  test("purge watermark: re-purge only on NEW deletions; partitions derive from store size") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-delG").toString
    val p = CorpusService.Paths(base)
    Seq((1L, "alpha beta gamma delta epsilon", "en"),
        (2L, "zeta eta theta iota kappa", "en"),
        (3L, "lambda mu nu xi omicron", "en"))
      .toDF("doc_id", "text", "lang")
      .write.parquet(p.docs)
    assert(CorpusService.maintainPostings(spark, p) == 3L)
    // No deletion ever → nothing pending.
    assert(!CorpusService.purgePending(spark, p))
    CorpusService.deleteDocs(spark, p, Seq(2L))
    assert(CorpusService.purgePending(spark, p),
      "a fresh deletion must schedule a purge")
    assert(CorpusService.purgeTombstoned(spark, p))
    // Landed purge clears the pending flag — the maintenance loop must
    // NOT rewrite ~17 stores on every tick forever after one delete.
    assert(!CorpusService.purgePending(spark, p),
      "an already-drained tombstone set must not re-schedule the purge")
    // A REPLAYED delete (same ids — the idempotent client retry) adds
    // no distinct tombstone: still nothing pending.
    CorpusService.deleteDocs(spark, p, Seq(2L))
    assert(!CorpusService.purgePending(spark, p),
      "a replayed delete of the same ids must not re-schedule the purge")
    // A NEW deletion re-arms it.
    CorpusService.deleteDocs(spark, p, Seq(3L))
    assert(CorpusService.purgePending(spark, p),
      "a new deletion must re-schedule the purge")
    assert(CorpusService.purgeTombstoned(spark, p))
    assert(!CorpusService.purgePending(spark, p))
    // Purge-write parallelism derives from measured store size (the CC
    // loop's pattern): at a target of 1/8 the store's measured bytes
    // the purge runs through 8 tasks — the fixed repartition(4) this
    // replaced could never exceed 4 regardless of store size.
    val postPath = new org.apache.hadoop.fs.Path(p.postings)
    val postBytes = postPath
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(postPath).getLength
    // (sizedParts caps at the session parallelism, which the test
    // session pins to 4 — widen it for the scaling assertion.)
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try {
      assert(CorpusService.sizedParts(spark, p.postings,
          targetBytes = math.max(1L, postBytes / 8)) > 4,
        "purge partition count must scale with store size")
      assert(CorpusService.sizedParts(spark, p.postings) >= 1)
    } finally spark.conf.set("spark.sql.shuffle.partitions", "4")
  }

  test("purged docs never resurrect; novelty forgets deleted attributions") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-delE").toString
    val p = CorpusService.Paths(base)
    Seq((1L, "alpha beta gamma delta epsilon", "en"),
        (2L, "zeta eta theta iota kappa", "en"),
        (3L, "lambda mu nu xi omicron", "en"))
      .toDF("doc_id", "text", "lang")
      .write.parquet(p.docs)
    assert(CorpusService.maintainPostings(spark, p) == 3L)
    assert(CorpusService.maintainChunks(spark, p) == 3L)
    assert(CorpusService.maintainNovelty(spark, p) == 3L)
    CorpusService.deleteDocs(spark, p, Seq(2L))
    assert(CorpusService.purgeTombstoned(spark, p), "purge must land")
    // The corpus store still holds doc 2, but no maintain rediscovers it.
    assert(CorpusService.maintainPostings(spark, p) == 0L,
      "purged doc resurrected in the posting table")
    assert(CorpusService.maintainChunks(spark, p) == 0L,
      "purged doc resurrected in the chunk table")
    assert(CorpusService.maintainNovelty(spark, p) == 0L,
      "purged doc resurrected in the novelty table")
    assert(CorpusService.postingTableView(spark, p)
      .filter(col("doc_id") === 2).count() == 0)
    // Novelty FORGETS the deleted doc's contribution (the strict
    // takedown reading): its first-seen attributions are gone, so a
    // future doc re-introducing the shingles scores them novel again.
    assert(NoveltyTable.firstSeenView(spark, p.noveltyFirstSeen)
      .filter(col("first_doc") === 2).count() == 0,
      "purge left the deleted doc's first-seen attributions")
    Seq((9L, "zeta eta theta iota kappa", "en"))
      .toDF("doc_id", "text", "lang")
      .write.mode("append").parquet(p.docs)
    assert(CorpusService.maintainNovelty(spark, p) == 1L)
    val got = CorpusService.noveltyReport(spark, p)
      .filter(col("doc_id") === 9).collect()
    assert(got.length == 1 && got(0).getAs[Long]("n_novel") == 3L,
      s"re-introduced shingles must score novel again: ${got.toSeq}")
  }
}
