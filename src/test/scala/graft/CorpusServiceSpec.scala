package graft

import graft.queries.Extensions
import graft.streaming.{CorpusService, StreamingDedup, StreamingSemanticDedup}
import org.apache.spark.sql.functions._

/** The composed corpus lifecycle: documents + embeddings arrive in
  * waves, both dedup cycles run at ingest, logs compact between drains
  * — and the accumulated state equals the one-shot batch operators on
  * the final corpus (the composition adds no semantics of its own). */
class CorpusServiceSpec extends SparkSpec {

  test("two-wave corpus service converges to the one-shot batch dedups") {
    val srcDir = sf("sf0.001")
    val base = java.nio.file.Files.createTempDirectory("graft-corpus").toString
    val p = CorpusService.Paths(base)

    val docs = graft.Tables.t(spark, srcDir, "documents")
      .select("doc_id", "text", "lang", "source")
    val emb = graft.Tables.t(spark, srcDir, "embeddings")
      .select("vec_id", "embedding")

    // A fixed external eval suite for the ingest-time leakage gate:
    // every 50th corpus document verbatim under a disjoint id space.
    val refDir = java.nio.file.Files.createTempDirectory("graft-svc-eval")
      .toString
    docs.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 900000).as("doc_id"), col("text"), col("lang"))
      .coalesce(1).write.parquet(s"$refDir/documents.parquet")

    // Wave 1: ~60% of the corpus, both modalities.
    docs.filter(col("doc_id") % 5 < 3).write.mode("append").parquet(p.docs)
    emb.filter(col("vec_id") % 5 < 3).write.mode("append").parquet(p.embeddings)
    // The quantizer trains on the FULL corpus (offline, as deployed —
    // here the full embedding set is written before wave 2 streams in,
    // matching the one-shot s05's sampling base).
    emb.filter(col("vec_id") % 5 >= 3).write.mode("append").parquet(p.embeddings)
    CorpusService.trainQuantizer(spark, p)
    // Wave-1 drain: only wave-1 docs exist; embeddings drain fully
    // (either side may run ahead — the contract tolerates it).
    CorpusService.drainAvailable(spark, p, contaminationRef = Some(refDir),
      fingerprint = true, novelty = true, chunks = true)

    // Wave 2 (documents): the rest arrives and drains.
    docs.filter(col("doc_id") % 5 >= 3).write.mode("append").parquet(p.docs)
    CorpusService.drainAvailable(spark, p, contaminationRef = Some(refDir),
      fingerprint = true, novelty = true, chunks = true)

    // The ingest-time leakage gate converged to the one-shot audit.
    assertSameRows(
      CorpusService.contaminationView(spark, p),
      Extensions.contaminationAgainst(spark, base, refDir),
      "service contamination log vs one-shot cross-corpus audit")

    // The maintained novelty table, scored per drain (these waves are
    // NOT id-ordered, so per-doc scores legitimately differ from
    // id-ordered one-shot t21; what must hold under ANY arrival order:
    // every doc scored once, per-doc gram counts match, and the
    // conservation law — each distinct shingle is novel in exactly one
    // document).
    val nov = CorpusService.noveltyReport(spark, p)
    assert(nov.count() == docs.count(), "novelty table misses docs")
    val universe = Extensions.shinglesOfDocs(
      graft.Tables.t(spark, base, "documents"))
      .select("shingle").distinct().count()
    val novelSum = nov.agg(sum("n_novel")).collect()(0).getLong(0)
    assert(novelSum == universe,
      s"novelty conservation broken: $novelSum != $universe")
    assertSameRows(nov.select("doc_id", "n_grams"),
      Extensions.ngramNovelty(spark, base).select("doc_id", "n_grams"),
      "per-doc gram counts vs one-shot t21")

    // The per-source curation rollup off the maintained log: the volume
    // columns equal one-shot t23 exactly under ANY arrival order (they
    // do not depend on first-seen attribution), and the novelty mass it
    // distributes over sources is the conserved shingle universe.
    val srcStats = CorpusService.sourceStatsReport(spark, p)
    assertSameRows(
      srcStats.select("source", "n_docs", "total_tokens", "n_langs", "n_grams"),
      Extensions.sourceStats(spark, base)
        .select("source", "n_docs", "total_tokens", "n_langs", "n_grams"),
      "service source rollup volume columns vs one-shot t23")
    assert(srcStats.agg(sum("n_novel")).collect()(0).getLong(0) == universe,
      "source rollup does not conserve novelty mass")

    // The maintained chunk table: chunks are per-doc pure (no cross-doc
    // state), so under ANY arrival order the log equals one-shot t25 on
    // the final corpus row-for-row, and the dupes rollup equals d15.
    assertSameRows(
      CorpusService.chunkTableView(spark, p),
      Extensions.chunkDocs(spark, base),
      "maintained chunk table vs one-shot t25")
    assertSameRows(
      CorpusService.chunkDupesReport(spark, p),
      Extensions.chunkDupes(spark, base),
      "maintained chunk dupes vs one-shot d15")

    // Equivalence with the one-shot batch operators on the full corpus.
    assertSameRows(
      StreamingDedup.pairsView(spark, p.pairs),
      Extensions.lshPairs(spark, base)
        .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
          greatest(col("doc_a"), col("doc_b")).as("doc_b"))
        .distinct(),
      "streamed shingle pairs vs one-shot LSH")
    assertSameRows(
      StreamingSemanticDedup.pairsView(spark, p.semPairs),
      Extensions.semdedupCells(spark, base)
        .select("vec_a", "vec_b", "cos_ppm"),
      "streamed semantic pairs vs one-shot s05")
    // The third modality: ingest-time media fingerprints converge to the
    // one-shot m04 pairing on the final corpus, row-for-row.
    assertSameRows(
      CorpusService.fingerprintPairsView(spark, p),
      Extensions.mediaPhashPairs(spark, base),
      "streamed fingerprint pairs vs one-shot m04")

    // The unified report covers all THREE modalities' pairs exactly
    // once: per-axis boolean coverage equals each log's pair count, the
    // pair set equals the union of the three logs, and the modality
    // string is the '+'-joined sorted axis names.
    val report = CorpusService.dedupReport(spark, p).persist()
    try {
      val nVerb = StreamingDedup.pairsView(spark, p.pairs).count()
      val nSem = StreamingSemanticDedup.pairsView(spark, p.semPairs).count()
      val nFp = CorpusService.fingerprintPairsView(spark, p).count()
      assert(report.filter(col("verbatim")).count() == nVerb,
        s"verbatim coverage vs $nVerb")
      assert(report.filter(col("semantic")).count() == nSem,
        s"semantic coverage vs $nSem")
      assert(report.filter(col("fingerprint")).count() == nFp,
        s"fingerprint coverage vs $nFp")
      assert(nFp > 0, "fingerprint drain produced no pairs to merge")
      assert(report.count() == report.select("doc_a", "doc_b").distinct().count(),
        "report must hold each pair once")
      assertSameRows(
        report.select("doc_a", "doc_b"),
        StreamingDedup.pairsView(spark, p.pairs).select("doc_a", "doc_b")
          .unionByName(StreamingSemanticDedup.pairsView(spark, p.semPairs)
            .select(least(col("vec_a"), col("vec_b")).as("doc_a"),
              greatest(col("vec_a"), col("vec_b")).as("doc_b")))
          .unionByName(CorpusService.fingerprintPairsView(spark, p)
            .select("doc_a", "doc_b"))
          .distinct(),
        "report pair set vs union of the three pair logs")
      val mods = report.select("modality").distinct()
        .collect().map(_.getString(0)).toSet
      val legal = Set("verbatim", "semantic", "fingerprint",
        "semantic+verbatim", "fingerprint+verbatim", "fingerprint+semantic",
        "fingerprint+semantic+verbatim")
      assert(mods.subsetOf(legal), s"illegal modality labels: $mods")
    } finally report.unpersist()

    // Post-drain compaction bounded every log, the contamination log
    // included.
    def dataFiles(dir: String): Int = new java.io.File(dir)
      .listFiles().count(_.getName.endsWith(".parquet"))
    Seq(p.sigs, p.pairs, p.assigns, p.semPairs, p.contam,
        p.fpSigs, p.fpPairs, p.chunkLog).foreach { d =>
      assert(dataFiles(d) <= 4, s"$d not compacted: ${dataFiles(d)} files")
    }

    // The MAINTAINED canonical-corpus artifact (refreshed per drain) ≡
    // the one-shot d07 resolution on the final corpus. t13's
    // materialization equality follows: it consumes d07's kept set,
    // which this equality pins row-for-row.
    assertSameRows(
      CorpusService.canonicalCorpusView(spark, p),
      Extensions.canonicalCorpus(spark, base),
      "maintained canonical artifact vs one-shot d07")
    // The underlying label table is maintained INCREMENTALLY (wave 2's
    // refresh anti-joined the pair log against wave 1's snapshot and
    // re-clustered only the touched components); it must equal a full
    // recompute over the whole log regardless.
    assertSameRows(
      spark.read.parquet(p.clusters),
      Extensions.clusterPairs(
        StreamingDedup.pairsView(spark, p.pairs).select("doc_a", "doc_b")),
      "incrementally maintained labels vs full recompute")

    // The BOTH-modality artifact: verbatim ∪ semantic pair logs feed one
    // cluster graph, ≡ the one-shot resolution over lshPairs ∪ s05 pairs
    // (a verbatim copy and a paraphrase-grade near-dup of one document
    // resolve to the same canonical).
    CorpusService.refreshCanonicalCorpus(spark, p, includeSemantic = true)
    val unionPairs = Extensions.lshPairs(spark, base)
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"))
      .unionByName(Extensions.semdedupCells(spark, base)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
    assertSameRows(
      CorpusService.canonicalCorpusView(spark, p),
      Extensions.canonicalResolution(
        graft.Tables.t(spark, base, "documents").select("doc_id", "lang"),
        Extensions.clusterPairs(unionPairs)),
      "unified-modality canonical artifact vs one-shot union twin")

    // ALL THREE modalities: the media-fingerprint pairs merge into the
    // same cluster graph, so a re-encoded copy, a verbatim copy, and a
    // paraphrase of one document all resolve to one canonical — ≡ the
    // one-shot resolution over lshPairs ∪ s05 ∪ m04.
    CorpusService.refreshCanonicalCorpus(spark, p, includeSemantic = true,
      includeFingerprint = true)
    val allThree = unionPairs
      .unionByName(Extensions.mediaPhashPairs(spark, base)
        .select("doc_a", "doc_b"))
    assertSameRows(
      CorpusService.canonicalCorpusView(spark, p),
      Extensions.canonicalResolution(
        graft.Tables.t(spark, base, "documents").select("doc_id", "lang"),
        Extensions.clusterPairs(allThree)),
      "three-modality canonical artifact vs one-shot union twin")

    // The maintained TRAINING-SET manifest: canonical (restored to the
    // verbatim-only resolution t13/t16 consume) ∧ quality ∧ split, at
    // doc grain — its summary ≡ one-shot t13; with decontamination,
    // ≡ one-shot t16. Narrowing back from includeSemantic exercises the
    // SHRINK path: the pair universe lost the semantic rows, so the
    // label table rebuilds from scratch rather than patching.
    CorpusService.refreshCanonicalCorpus(spark, p)
    CorpusService.refreshTrainingSet(spark, p)
    assertSameRows(
      Extensions.materializeSummary(CorpusService.trainingSetView(spark, p)),
      Extensions.corpusMaterialize(spark, base),
      "maintained training-set summary vs one-shot t13")
    CorpusService.refreshTrainingSet(spark, p, decontaminate = true)
    assertSameRows(
      Extensions.materializeSummary(CorpusService.trainingSetView(spark, p)),
      Extensions.corpusDecontaminated(spark, base),
      "decontaminated maintained training set vs one-shot t16")
    // Doc grain, not just summary grain: the manifest IS the doc set a
    // trainer enumerates.
    assertSameRows(
      CorpusService.trainingSetView(spark, p),
      Extensions.trainingManifest(spark, base,
        Extensions.canonicalCorpus(spark, base)
          .filter(col("is_kept") === 1).select("doc_id"))
        .join(Extensions.contaminatedTrainDocs(spark, base),
          Seq("doc_id"), "left_anti"),
      "maintained manifest vs one-shot doc-grain twin")

    // The ingest-time gate's drop list flows into the manifest: with
    // excludeContaminated, every suite-leaked doc (caught at arrival)
    // is anti-joined out — ≡ the one-shot cross-corpus audit applied
    // to the one-shot manifest.
    CorpusService.refreshTrainingSet(spark, p, decontaminate = true,
      excludeContaminated = true)
    val oneShotExcluded = Extensions.trainingManifest(spark, base,
        Extensions.canonicalCorpus(spark, base)
          .filter(col("is_kept") === 1).select("doc_id"))
      .join(Extensions.contaminatedTrainDocs(spark, base),
        Seq("doc_id"), "left_anti")
      .join(Extensions.contaminationAgainst(spark, base, refDir)
        .select("doc_id"), Seq("doc_id"), "left_anti")
    assertSameRows(
      CorpusService.trainingSetView(spark, p), oneShotExcluded,
      "suite-excluded maintained manifest vs one-shot twin")

    // The scrubbed payload: t19's clean text for exactly the manifest's
    // documents (df over the FULL corpus), split-partitioned like the
    // manifest.
    CorpusService.refreshScrubbedCorpus(spark, p)
    val expectedPayload = Extensions.scrubbedCorpus(spark, base)
      .join(oneShotExcluded.select("doc_id", "split"), "doc_id").persist()
    try {
      assertSameRows(CorpusService.scrubbedCorpusView(spark, p),
        expectedPayload,
        "scrubbed payload (one-shot branch) vs t19 over the manifest")
      assert(new java.io.File(p.scrubbed).listFiles()
        .exists(f => f.isDirectory && f.getName.startsWith("split=")),
        "scrubbed payload not partitioned by split")
      // With the incrementally maintained scrub table in place, the
      // refresh switches to the storage branch — same payload.
      assert(CorpusService.maintainScrub(spark, p) > 0,
        "first maintainScrub must process the corpus")
      CorpusService.refreshScrubbedCorpus(spark, p)
      assertSameRows(CorpusService.scrubbedCorpusView(spark, p),
        expectedPayload,
        "scrubbed payload (maintained branch) vs t19 over the manifest")
    } finally expectedPayload.unpersist()
    // The manifest is laid out for its dominant read — one split per
    // trainer pass: hive-partitioned by split, so split=train reads
    // prune to one directory.
    val splitDirs = new java.io.File(p.trainingSet).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("split="))
    assert(splitDirs.nonEmpty, "manifest not partitioned by split")
    val prunedPlan = CorpusService.trainingSetView(spark, p)
      .filter(col("split") === "train")
      .queryExecution.executedPlan.toString
    assert(prunedPlan.contains("PartitionFilters: [isnotnull(split"),
      s"split filter not pushed to partition pruning:\n$prunedPlan")
  }

  test("always-on corpus service ingests live appends, stops gracefully") {
    val srcDir = sf("sf0.001")
    val base = java.nio.file.Files.createTempDirectory("graft-corpsvc").toString
    val p = CorpusService.Paths(base)
    val docs = graft.Tables.t(spark, srcDir, "documents")
      .select("doc_id", "text", "lang")
    val emb = graft.Tables.t(spark, srcDir, "embeddings")
      .select("vec_id", "embedding")
    // Full corpus on disk before the quantizer trains and the service
    // starts; a LIVE append lands mid-flight on the documents side.
    docs.filter(col("doc_id") % 2 === 0).write.mode("append").parquet(p.docs)
    emb.write.mode("append").parquet(p.embeddings)
    CorpusService.trainQuantizer(spark, p)
    // Scrub state maintained alongside the always-on form: its stores
    // must join the quiesced compaction cycle below.
    assert(CorpusService.maintainScrub(spark, p) > 0,
      "maintainScrub must process the seeded wave")

    val running = CorpusService.start(spark, p, interval = "1 second",
      fingerprint = true)
    // A live append lands, then the QUIESCED compaction cycle runs: the
    // only compaction point the always-on form documents as safe
    // (drain + stop → guarded swaps must land → restart).
    val running2 =
      try {
        docs.filter(col("doc_id") % 2 === 1).write.mode("append").parquet(p.docs)
        CorpusService.compactQuiesced(spark, p, running, interval = "1 second")
      } catch { case e: Throwable => running.drainAndStop(); throw e }
    running2.drainAndStop()

    // The quiesced compaction bounded every log's file count even with
    // the service logically "always on" around it.
    def dataFiles(dir: String): Int = new java.io.File(dir)
      .listFiles().count(_.getName.endsWith(".parquet"))
    Seq(p.sigs, p.pairs, p.assigns, p.semPairs,
        p.scrubPostings, p.scrubLog, p.fpSigs, p.fpPairs).foreach { d =>
      assert(dataFiles(d) <= 4, s"$d not compacted: ${dataFiles(d)} files")
    }

    // The drain-then-stop saw BOTH document waves and all embeddings:
    // state equals the one-shot batch operators on the full corpus.
    assertSameRows(
      StreamingDedup.pairsView(spark, p.pairs),
      Extensions.lshPairs(spark, base)
        .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
          greatest(col("doc_a"), col("doc_b")).as("doc_b"))
        .distinct(),
      "live-service shingle pairs vs one-shot LSH")
    assertSameRows(
      StreamingSemanticDedup.pairsView(spark, p.semPairs),
      Extensions.semdedupCells(spark, base)
        .select("vec_a", "vec_b", "cos_ppm"),
      "live-service semantic pairs vs one-shot s05")
    assertSameRows(
      CorpusService.fingerprintPairsView(spark, p),
      Extensions.mediaPhashPairs(spark, base),
      "live-service fingerprint pairs vs one-shot m04")

    // A restart picks up exactly-once: nothing new → nothing re-appended.
    val rawPairs = spark.read.parquet(p.pairs).count()
    CorpusService.start(spark, p, interval = "1 second",
      fingerprint = true).drainAndStop()
    assert(spark.read.parquet(p.pairs).count() == rawPairs,
      "restart without new input must not re-append")
  }

  test("growth-keyed maybeRetrain quiesces, retrains, and resumes") {
    val srcDir = sf("sf0.001")
    val base = java.nio.file.Files.createTempDirectory("graft-svcgrow").toString
    val p = CorpusService.Paths(base)
    val docs = graft.Tables.t(spark, srcDir, "documents")
      .select("doc_id", "text", "lang")
    val emb = graft.Tables.t(spark, srcDir, "embeddings")
      .select("vec_id", "embedding")
    def wave(k: Int) = emb.filter(pmod(col("vec_id"), lit(3)) === k)

    // Epoch 1: a third of the embeddings — train (records the growth
    // anchor), start the always-on service.
    docs.write.mode("append").parquet(p.docs)
    wave(0).coalesce(1).write.mode("append").parquet(p.embeddings)
    CorpusService.trainQuantizer(spark, p)
    val anchor1 = CorpusService.trainedCount(spark, p)
    assert(anchor1.exists(_ > 0), s"no trained-count anchor: $anchor1")

    var r = CorpusService.start(spark, p, interval = "1 second")
    // Below the threshold the trigger is a no-op returning the SAME
    // handle — the streams are never touched.
    assert(CorpusService.maybeRetrain(spark, p, r, factor = 1.8,
      interval = "1 second").docs eq r.docs)

    // The corpus doubles: the trigger must fire — quiesce (draining
    // wave 2, whichever epoch its micro-batches landed in), retrain,
    // re-anchor, restart.
    wave(1).coalesce(1).write.mode("append").parquet(p.embeddings)
    r = CorpusService.maybeRetrain(spark, p, r, factor = 1.8,
      interval = "1 second")
    val anchor2 = CorpusService.trainedCount(spark, p)
    assert(anchor2.exists(_ > anchor1.get), s"anchor not re-recorded: $anchor2")

    // Epoch 2 ingest: wave 3 arrives against the rebuilt state.
    wave(2).coalesce(1).write.mode("append").parquet(p.embeddings)
    r.drainAndStop()
    // Growth since the retrain is 1.5x < 1.8 — no further retrain, and
    // on an already-stopped handle the no-op must not throw.
    assert(CorpusService.maybeRetrain(spark, p, r, factor = 1.8,
      interval = "1 second").docs eq r.docs)

    // The retrain rebuilt the assignment table under the NEW quantizer:
    // wave-3 batch assignments extend it to the full corpus.
    val cents = spark.read.parquet(p.cents)
    val assignAll = Extensions.imiRank(
        Extensions.quantizeFrame(emb), cents, "vec_id", 2)
      .filter(col("rn") <= 4)
      .select(col("vec_id"), col("cent_id").as("cell"))
    assertSameRows(StreamingSemanticDedup.assignTable(spark, p.assigns),
      assignAll, "assignment table vs full-corpus recompute under new cents")

    // Soundness across the epoch boundary: every logged pair is an
    // exact >= threshold near-dup of the final corpus.
    val streamed = StreamingSemanticDedup.pairsView(spark, p.semPairs)
      .select("vec_a", "vec_b").persist()
    val exact = Extensions.dedupEmbedding(spark, base)
      .select("vec_a", "vec_b").persist()
    try {
      assert(streamed.join(exact, Seq("vec_a", "vec_b"), "left_anti")
        .count() == 0, "a logged pair is not an exact near-dup")

      // Completeness for the NEW epoch ≡ one-shot s05 under the NEW
      // (service's own) quantizer: every exact pair that the new cells
      // co-locate and whose later member arrived post-retrain (wave 3)
      // must be in the log — wave 3 probed the rebuilt table, which
      // already held waves 1-2 under the new cells.
      val colocated = assignAll.as("a")
        .join(assignAll.as("b"),
          col("a.cell") === col("b.cell") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
        .distinct()
      val dueNewEpoch = exact
        .join(colocated, Seq("vec_a", "vec_b"), "left_semi")
        .filter(pmod(col("vec_a"), lit(3)) === 2 ||
          pmod(col("vec_b"), lit(3)) === 2)
      assert(dueNewEpoch.join(streamed, Seq("vec_a", "vec_b"), "left_anti")
        .count() == 0, "a new-epoch co-located pair is missing from the log")
    } finally { streamed.unpersist(); exact.unpersist() }
  }

  test("maintained chunk index: build + append per wave, RAG serving off the log") {
    val srcDir = sf("sf0.001")
    val base = java.nio.file.Files.createTempDirectory("graft-svcchunk").toString
    val p = CorpusService.Paths(base)
    val docs = graft.Tables.t(spark, srcDir, "documents")
      .select("doc_id", "text", "lang")
    // Wave 1 (even docs): chunk + embedding maintenance, then the
    // index BUILD — serving reads the STORED embedding table, the
    // artifact path (vectors are model outputs at scale).
    docs.filter(pmod(col("doc_id"), lit(2)) === 0).coalesce(1)
      .write.mode("append").parquet(p.docs)
    assert(CorpusService.maintainChunks(spark, p) > 0)
    assert(CorpusService.maintainChunkVectors(spark, p) > 0)
    CorpusService.refreshChunkIndex(spark, p)
    // Wave 2 (odd docs): maintenance then the APPEND path.
    docs.filter(pmod(col("doc_id"), lit(2)) === 1).coalesce(1)
      .write.mode("append").parquet(p.docs)
    assert(CorpusService.maintainChunks(spark, p) > 0)
    assert(CorpusService.maintainChunkVectors(spark, p) > 0)
    CorpusService.refreshChunkIndex(spark, p)
    // The stored embedding table ≡ the derivation over the chunk log,
    // row-for-row (the stand-in contract), and a replayed refresh
    // appends nothing.
    assertSameRows(
      graft.streaming.ChunkTable.vecView(spark, p.chunkVecs),
      Extensions.chunkVectorsOf(
        graft.streaming.ChunkTable.chunkView(spark, p.chunkLog)),
      "maintained chunk-embedding store vs derivation over the log")
    assert(CorpusService.maintainChunkVectors(spark, p) == 0L,
      "nothing new must be a strict no-op")
    // The appended index ≡ a from-scratch rebuild under ITS OWN frozen
    // epochs (wave-1 quantizer + SQ8 ranges) — the AnnIndexSpec
    // contract, at chunk grain, through the service path.
    val cv = CorpusService.chunkVectorTable(spark, p)
      .select("vec_id", "q", "s2")
    val rebuilt = java.nio.file.Files
      .createTempDirectory("graft-svcchunk-gt").toString + "/idx"
    Extensions.buildAnnIndexFrom(cv,
      Extensions.sidecarOf(spark, p.chunkIndex, "_quantizer"), rebuilt,
      sq8 = Some(Extensions.sidecarOf(spark, p.chunkIndex, "_sq8")),
      pq = Some(Extensions.sidecarOf(spark, p.chunkIndex, "_pq")))
    assertSameRows(spark.read.parquet(p.chunkIndex),
      spark.read.parquet(rebuilt),
      "append-maintained chunk index vs frozen-epoch rebuild")
    // Serving parity with one-shot s18: corpus docs 0-9 as text queries,
    // own doc excluded. The cell probe makes this recall-bounded, not
    // row-identical — the overlap floor is the pin (hybrid's idiom).
    val queries = graft.Tables.t(spark, base, "documents")
      .filter(col("doc_id") < 10)
      .select(col("doc_id").as("vec_id"), col("text"))
    val served = CorpusService.chunkTopKFor(spark, p, queries,
      excludeSelf = true).persist()
    val oneShot = Extensions.chunkAnn(spark, base).persist()
    try {
      val inter = served.join(oneShot, Seq("query_id", "neighbor_id"),
        "left_semi").count()
      val total = oneShot.count()
      info(s"chunk-index serving overlap@5 vs one-shot s18: $inter/$total")
      assert(inter * 100 >= total * 75,
        s"chunk serving overlap@5 $inter/$total below 0.75 floor " +
          "(measured 0.86 at round 10)")
    } finally { served.unpersist(); oneShot.unpersist() }
    // Exact-twin guarantee: an external query carrying a corpus doc's
    // verbatim text derives that doc's exact chunk vectors, lands in
    // the probed cells, and the doc tops the rollup at cos 1e6.
    val ext = graft.Tables.t(spark, base, "documents")
      .filter(col("doc_id") === 3)
      .select((col("doc_id") + 900000).as("vec_id"), col("text"))
    val top = CorpusService.chunkTopKFor(spark, p, ext).persist()
    try {
      val r1 = top.filter(col("rank") === 1).collect()
      assert(r1.length == 1 && r1(0).getAs[Long]("max_cos_ppm") == 1000000L,
        s"external verbatim query's rank-1 is not an exact chunk twin: ${r1.toSeq}")
      assert(top.filter(col("neighbor_id") === 3 &&
          col("max_cos_ppm") === 1000000L).count() == 1,
        "the twin document is not in the top-k at exact cosine")
    } finally top.unpersist()
  }

  test("clusterCap manifest ≡ t13 ∩ t24; the sample keeps its docs within an epoch") {
    val srcDir = sf("sf0.001")
    val base = java.nio.file.Files.createTempDirectory("graft-svccap").toString
    val p = CorpusService.Paths(base)
    val docs = graft.Tables.t(spark, srcDir, "documents")
      .select("doc_id", "text", "lang")
    val emb = graft.Tables.t(spark, srcDir, "embeddings")
    // Epoch 1 corpus: even ids. Train the service quantizer on it.
    docs.filter(pmod(col("doc_id"), lit(2)) === 0).coalesce(1)
      .write.mode("append").parquet(p.docs)
    emb.filter(pmod(col("vec_id"), lit(2)) === 0).coalesce(1)
      .write.mode("append").parquet(p.embeddings)
    CorpusService.trainQuantizer(spark, p)
    CorpusService.refreshCanonicalCorpus(spark, p)
    // Uncapped manifest first (the diversity cap is a gate beside the
    // others, so the capped form must be exactly its restriction).
    CorpusService.refreshTrainingSet(spark, p)
    val uncapped = CorpusService.trainingSetView(spark, p)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    // First capped refresh: ranks ALL docs by the portable hash —
    // one-shot t24's rule under the same quantizer — so the manifest
    // is exactly (uncapped manifest) ∩ (t24 kept set).
    CorpusService.refreshTrainingSet(spark, p, clusterCap = Some(8))
    val t24Kept = Extensions.clusterSample(spark, base)
      .select(col("vec_id").as("doc_id"))
    assertSameRows(
      CorpusService.trainingSetView(spark, p).select("doc_id"),
      t24Kept.filter(col("doc_id").isin(uncapped.toSeq: _*)),
      "capped manifest vs one-shot t13 ∩ t24")
    val sample1 = spark.read.parquet(p.clusterSample).collect()
      .map(r => (r.getAs[Long]("cell"), r.getAs[Long]("doc_id"))).toSet
    // Epoch 1 grows (odd ids arrive); SAME quantizer epoch — the
    // refresh must not resample: every previously kept doc keeps its
    // slot, newcomers only fill remaining per-cell budget.
    docs.filter(pmod(col("doc_id"), lit(2)) === 1).coalesce(1)
      .write.mode("append").parquet(p.docs)
    emb.filter(pmod(col("vec_id"), lit(2)) === 1).coalesce(1)
      .write.mode("append").parquet(p.embeddings)
    CorpusService.refreshCanonicalCorpus(spark, p)
    CorpusService.refreshTrainingSet(spark, p, clusterCap = Some(8))
    val sample2 = spark.read.parquet(p.clusterSample).collect()
      .map(r => (r.getAs[Long]("cell"), r.getAs[Long]("doc_id"))).toSet
    assert(sample1.subsetOf(sample2),
      s"epoch sample evicted docs: ${sample1.diff(sample2)}")
    val perCell = sample2.groupBy(_._1).map(_._2.size)
    assert(perCell.forall(_ <= 8), s"a cell exceeds the cap: $perCell")
    // Idempotence: nothing new → the sample (and manifest) are stable.
    CorpusService.refreshTrainingSet(spark, p, clusterCap = Some(8))
    val sample3 = spark.read.parquet(p.clusterSample).collect()
      .map(r => (r.getAs[Long]("cell"), r.getAs[Long]("doc_id"))).toSet
    assert(sample2 == sample3, "a no-growth refresh resampled")
  }

  test("maintained serving index: builds, appends per wave, rebuilds on retrain") {
    val srcDir = sf("sf0.001")
    val base = java.nio.file.Files.createTempDirectory("graft-svcidx").toString
    val p = CorpusService.Paths(base)
    val docs = graft.Tables.t(spark, srcDir, "documents")
      .select("doc_id", "text", "lang")
    val emb = graft.Tables.t(spark, srcDir, "embeddings")
      .select("vec_id", "embedding")
    def wave(k: Int) = emb.filter(pmod(col("vec_id"), lit(3)) === k)
    // `sq8`/`pq`: the epoch-1 ground truth must freeze the maintained
    // index's OWN code-payload sidecars (appends encode under them);
    // the post-retrain ground truth derives fresh ones, exactly as the
    // rebuild does.
    def rebuildAt(path: String,
                  sq8: Option[org.apache.spark.sql.DataFrame] = None,
                  pq: Option[org.apache.spark.sql.DataFrame] = None): String = {
      Extensions.buildAnnIndexFrom(
        Extensions.quantizeFrame(graft.Tables.t(spark, base, "embeddings")),
        spark.read.parquet(p.cents), path, sq8 = sq8, pq = pq)
      path
    }

    // Epoch 1: train on wave 0, drain with index maintenance on — the
    // first refresh BUILDS the index under the service quantizer.
    docs.write.mode("append").parquet(p.docs)
    wave(0).coalesce(1).write.mode("append").parquet(p.embeddings)
    CorpusService.trainQuantizer(spark, p)
    CorpusService.drainAvailable(spark, p, index = true)

    // Wave 1 arrives; the next refresh APPENDS only the new vectors
    // (anti-join discovery) under the frozen sidecar quantizer.
    wave(1).coalesce(1).write.mode("append").parquet(p.embeddings)
    CorpusService.drainAvailable(spark, p, index = true)
    val scratch = java.nio.file.Files.createTempDirectory("graft-svcidx-gt").toString
    assertSameRows(
      spark.read.parquet(p.annIndex),
      spark.read.parquet(rebuildAt(s"$scratch/epoch1",
        sq8 = Some(Extensions.sidecarOf(spark, p.annIndex, "_sq8")),
        pq = Some(Extensions.sidecarOf(spark, p.annIndex, "_pq")))),
      "append-maintained service index vs frozen-quantizer rebuild")
    assertSameRows(
      CorpusService.annTopK(spark, p),
      Extensions.annIvfIndexedAt(spark, base, s"$scratch/epoch1"),
      "serving off the maintained index vs off the rebuild")

    // Epoch 2: the corpus grows past the retrain threshold; maybeRetrain
    // quiesces, retrains, and — because a new quantizer voids every
    // stored cell — REBUILDS the maintained index, not appends.
    var r = CorpusService.start(spark, p, interval = "1 second")
    wave(2).coalesce(1).write.mode("append").parquet(p.embeddings)
    r = CorpusService.maybeRetrain(spark, p, r, factor = 1.4,
      interval = "1 second")
    r.drainAndStop()
    assertSameRows(
      Extensions.sidecarOf(spark, p.annIndex, "_quantizer"),
      spark.read.parquet(p.cents),
      "index sidecar must track the retrained quantizer")
    assertSameRows(
      spark.read.parquet(p.annIndex),
      spark.read.parquet(rebuildAt(s"$scratch/epoch2")),
      "post-retrain index vs rebuild under the new quantizer")
  }

  test("scheduled lifecycle: drains, maintains artifacts, retrains on growth") {
    val srcDir = sf("sf0.001")
    val base = java.nio.file.Files.createTempDirectory("graft-svcsched").toString
    val p = CorpusService.Paths(base)
    val docs = graft.Tables.t(spark, srcDir, "documents")
      .select("doc_id", "text", "lang")
    val emb = graft.Tables.t(spark, srcDir, "embeddings")
      .select("vec_id", "embedding")
    def wave(k: Int) = emb.filter(pmod(col("vec_id"), lit(3)) === k)

    // Seed-before-schedule contract: documents and the first embedding
    // wave exist before the loop starts (the quantizer trains on them
    // at the first tick).
    docs.write.mode("append").parquet(p.docs)
    wave(0).coalesce(1).write.mode("append").parquet(p.embeddings)

    // A registered eval suite: the loop runs the ingest-time leakage
    // gate per tick and its drop list flows into the manifest.
    val refDir = java.nio.file.Files
      .createTempDirectory("graft-svcsched-eval").toString
    docs.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 900000).as("doc_id"), col("text"), col("lang"))
      .coalesce(1).write.parquet(s"$refDir/documents.parquet")

    // Fake clock, 5-minute drains over 10 minutes → ticks at 0/5/10.
    // Later waves arrive through the sleep hook, i.e. BETWEEN ticks —
    // the shape a real deployment sees. maintainEvery=1 runs the
    // maintenance check after every tick: tick 1 sees corpus = trained
    // size (1.0× < 1.2 → index compaction), ticks 2 and 3 each see the
    // corpus grown ≥1.2× past the last training (wave appended between
    // ticks) → retrain, so the run must report exactly (3, 2, 1).
    val t0 = java.time.LocalDateTime.parse("2024-06-01T12:00:00")
    var fakeNow = t0
    var appended = 1
    val stats = CorpusService.runScheduled(spark, p,
      stop = () => fakeNow.isAfter(t0.plusMinutes(10)),
      maintainEvery = 1, retrainFactor = 1.2,
      contaminationRef = Some(refDir), pack = true,
      clock = () => fakeNow,
      sleep = d => {
        if (appended < 3) {
          wave(appended).coalesce(1).write.mode("append").parquet(p.embeddings)
          appended += 1
        }
        fakeNow = fakeNow.plus(d)
      })
    assert(stats == CorpusService.CorpusScheduleStats(3, 2, 1),
      s"unexpected schedule stats: $stats")

    // The streamed verbatim pair log converged to the one-shot LSH set.
    assertSameRows(
      StreamingDedup.pairsView(spark, p.pairs),
      Extensions.lshPairs(spark, base)
        .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
          greatest(col("doc_a"), col("doc_b")).as("doc_b"))
        .distinct(),
      "scheduled verbatim pairs vs one-shot LSH")

    // The maintained artifacts reflect the FINAL tick's logs: the
    // both-modality canonical over the accumulated pair logs, and the
    // manifest over that canonical.
    assertSameRows(
      CorpusService.canonicalCorpusView(spark, p),
      Extensions.canonicalResolution(
        graft.Tables.t(spark, base, "documents").select("doc_id", "lang"),
        Extensions.clusterPairs(
          StreamingDedup.pairsView(spark, p.pairs).select("doc_a", "doc_b")
            .unionByName(
              StreamingSemanticDedup.pairsView(spark, p.semPairs)
                .select(col("vec_a").as("doc_a"),
                  col("vec_b").as("doc_b"))))),
      "scheduled canonical artifact vs resolution over the final logs")
    // The manifest: one-shot over the maintained canonical MINUS the
    // gate's drop list (a contaminationRef was registered, so
    // runScheduled excludes suite-leaked docs automatically).
    assertSameRows(
      CorpusService.trainingSetView(spark, p),
      Extensions.trainingManifest(spark, base,
        CorpusService.canonicalCorpusView(spark, p)
          .filter(col("is_kept") === 1).select("doc_id"))
        .join(Extensions.contaminationAgainst(spark, base, refDir)
          .select("doc_id"), Seq("doc_id"), "left_anti"),
      "scheduled manifest vs one-shot over the maintained canonical")
    // And the gate's log itself converged to the one-shot audit.
    assertSameRows(
      CorpusService.contaminationView(spark, p),
      Extensions.contaminationAgainst(spark, base, refDir),
      "scheduled contamination log vs one-shot cross-corpus audit")

    // The serving index is the current epoch's rebuild over the full
    // corpus (the last tick retrained AFTER its drain), sidecar included.
    val gt = java.nio.file.Files.createTempDirectory("graft-svcsched-gt")
      .toString
    Extensions.buildAnnIndexFrom(
      Extensions.quantizeFrame(graft.Tables.t(spark, base, "embeddings")),
      spark.read.parquet(p.cents), gt)
    assertSameRows(spark.read.parquet(p.annIndex), spark.read.parquet(gt),
      "scheduled index vs current-epoch rebuild")
    assertSameRows(
      Extensions.sidecarOf(spark, p.annIndex, "_quantizer"),
      spark.read.parquet(p.cents),
      "scheduled index sidecar vs service quantizer")

    // The scrub pipeline ran inside the loop (scrub defaults on):
    // per-drain incremental maintenance converged the scrub table to
    // the one-shot t19, the maintain-tick handoff cut the trainer
    // payload from it against the freshest manifest, and the scrub
    // stores joined the post-drain compaction set.
    assertSameRows(
      CorpusService.scrubTableView(spark, p),
      Extensions.scrubbedCorpus(spark, base),
      "scheduled scrub table vs one-shot t19")
    assertSameRows(
      CorpusService.scrubbedCorpusView(spark, p),
      Extensions.scrubbedCorpus(spark, base)
        .join(CorpusService.trainingSetView(spark, p)
          .select("doc_id", "split"), "doc_id"),
      "scheduled scrubbed payload vs t19 over the maintained manifest")
    def dataFiles(dir: String): Int = new java.io.File(dir)
      .listFiles().count(_.getName.endsWith(".parquet"))
    Seq(p.scrubPostings, p.scrubLog).foreach { d =>
      assert(dataFiles(d) <= 4, s"$d not compacted: ${dataFiles(d)} files")
    }

    // The pack manifest rode the same handoff cadence: its spans are
    // the one-shot packing arithmetic over the final manifest's train
    // split (the last maintenance tick re-packed after that tick's
    // manifest refresh).
    assertSameRows(
      CorpusService.packManifestView(spark, p),
      Extensions.packSpans(
        CorpusService.trainingSetView(spark, p)
          .filter(col("split") === "train").select("doc_id", "n_toks"),
        Extensions.PackCap),
      "scheduled pack manifest vs one-shot packing over the final manifest")
  }

  test("scheduled retry dial: transient tick recovers, permanent stays loud") {
    // The reference retries each task once after 30 s
    // (track_delta.py:612-613); the service's dial must (a) recover a
    // tick whose first attempt dies transiently, backing off through the
    // injectable sleep, and (b) still propagate a failure that survives
    // every retry — bounded retry must never become silent skip.
    val srcDir = sf("sf0.001")
    val base = java.nio.file.Files.createTempDirectory("graft-svcretry")
      .toString
    val p = CorpusService.Paths(base)
    graft.Tables.t(spark, srcDir, "documents")
      .select("doc_id", "text", "lang")
      .filter(col("doc_id") < 150)
      .coalesce(1).write.mode("append").parquet(p.docs)
    graft.Tables.t(spark, srcDir, "embeddings")
      .select("vec_id", "embedding")
      .filter(col("vec_id") < 150)
      .coalesce(1).write.mode("append").parquet(p.embeddings)

    val t0 = java.time.LocalDateTime.parse("2024-06-01T12:00:00")
    var fakeNow = t0
    var attempts = 0
    var backoffs = 0
    val stats = CorpusService.runScheduled(spark, p,
      stop = () => fakeNow.isAfter(t0.plusMinutes(4)),
      maintainEvery = 0, scrub = false,
      taskRetries = 1,
      onTickStart = _ => {
        attempts += 1
        if (attempts == 1) throw new RuntimeException("transient blip")
      },
      clock = () => fakeNow,
      sleep = d => {
        if (d == java.time.Duration.ofSeconds(30)) backoffs += 1
        fakeNow = fakeNow.plus(d)
      })
    assert(stats.drainTicks == 1, s"tick must complete after retry: $stats")
    assert(attempts == 2, s"expected initial attempt + one retry: $attempts")
    assert(backoffs == 1, s"expected one 30s backoff sleep: $backoffs")
    assert(CorpusService.canonicalCorpusView(spark, p).count() > 0,
      "artifacts must land on the retried tick")

    // Permanent failure: initial attempt + taskRetries, then loud.
    var permAttempts = 0
    fakeNow = t0
    val ex = intercept[RuntimeException] {
      CorpusService.runScheduled(spark, p,
        stop = () => false,
        maintainEvery = 0, scrub = false,
        taskRetries = 2,
        onTickStart = _ => {
          permAttempts += 1
          throw new RuntimeException("permanent failure")
        },
        clock = () => fakeNow,
        sleep = d => fakeNow = fakeNow.plus(d))
    }
    assert(ex.getMessage == "permanent failure")
    assert(permAttempts == 3,
      s"expected initial + 2 retries before propagating: $permAttempts")
  }

  test("recall audit serves off maintained state; auditRetrain keys on its floor") {
    val src = sf("sf0.001")
    val base = java.nio.file.Files.createTempDirectory("graft-svcaudit").toString
    val p = CorpusService.Paths(base)
    Tables.t(spark, src, "documents").select("doc_id", "text", "lang")
      .write.parquet(p.docs)
    Tables.t(spark, src, "embeddings").write.parquet(p.embeddings)
    CorpusService.trainQuantizer(spark, p)
    CorpusService.drainAvailable(spark, p, index = true)

    // The report's n_hit must equal an intersection computed
    // INDEPENDENTLY from the two top-5 sets (the audit cannot be
    // allowed to drift from what it claims to measure).
    def sets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "neighbor_id").collect()
        .groupBy(_.getLong(0)).view
        .mapValues(_.map(_.getLong(1)).toSet).toMap
    val exact = sets(Extensions.annCosineTopKOf(Extensions.quantizeFrame(
      Tables.t(spark, base, "embeddings"))))
    val served = sets(CorpusService.annTopK(spark, p))
    val rep = CorpusService.recallAuditReport(spark, p)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rep.keySet == exact.keySet, "audit must cover every probe query")
    exact.foreach { case (q, truth) =>
      val want = served.getOrElse(q, Set.empty).intersect(truth).size.toLong
      assert(rep(q) == want, s"q$q: audit n_hit=${rep(q)} vs measured $want")
    }
    val measured = CorpusService.auditedRecallPpm(spark, p)
    assert(measured > 0, "probe recall must be nonzero on this corpus")

    // At the floor: no-op returning the SAME handle, streams untouched.
    var r = CorpusService.start(spark, p, interval = "1 second")
    assert(CorpusService.auditRetrain(spark, p, r, floorPpm = measured,
      interval = "1 second").docs eq r.docs)

    // Below the floor: quiesce, retrain (epoch moves — anchor
    // re-recorded, index rebuilt), resume; serving and the audit both
    // stay live under the new epoch.
    val anchor1 = CorpusService.trainedCount(spark, p)
    r = CorpusService.auditRetrain(spark, p, r, floorPpm = measured + 1,
      interval = "1 second")
    assert(CorpusService.trainedCount(spark, p).isDefined &&
      anchor1.isDefined, "trained-count anchor missing")
    r.drainAndStop()
    assert(CorpusService.auditedRecallPpm(spark, p) > 0,
      "audit must still measure after the epoch move")

    // Takedowns flow through the audit: deleting a probe query removes
    // its row from the report (the doc is neither query nor truth
    // neighbor on either side).
    CorpusService.deleteDocs(spark, p, Seq(3L))
    val after = CorpusService.recallAuditReport(spark, p)
    assert(after.filter(col("query_id") === 3L).count() == 0,
      "deleted probe doc still audited")
    assert(after.count() == exact.size - 1, "audit query-set size")
  }

  test("scheduled curation cadence e2e: two drains + takedown, manifest+pack ≡ one-shot t40") {
    // The full always-on chain (weights → scores → manifest → pack)
    // driven ONLY by runScheduled ticks: ingest wave 1, drain; ingest
    // wave 2 and take down two already-packed docs, drain again. After
    // each drain the maintained sharded pack manifest must equal the
    // one-shot t40 composition over the live corpus — including across
    // the weight-epoch retrain wave 2's growth triggers and the
    // physical purge the takedown schedules.
    val src = sf("sf0.001")
    val base = java.nio.file.Files.createTempDirectory("graft-svct40")
      .toString
    val p = CorpusService.Paths(base)
    val docsAll = Tables.t(spark, src, "documents")
      .select("doc_id", "text", "lang").cache()
    val cut = docsAll.agg(expr("percentile_approx(doc_id, 0.5)")).head()
      .get(0).toString.toDouble.toLong
    docsAll.filter(col("doc_id") <= cut)
      .write.mode("append").parquet(p.docs)
    Tables.t(spark, src, "embeddings").filter(col("vec_id") <= cut)
      .write.mode("append").parquet(p.embeddings)

    val t0 = java.time.LocalDateTime.parse("2024-06-01T12:00:00")
    def oneTick(): Unit = {
      var fakeNow = t0
      val stats = CorpusService.runScheduled(spark, p,
        stop = () => fakeNow.isAfter(t0.plusMinutes(1)),
        maintainEvery = 1, retrainFactor = 2.0,
        includeSemantic = false, scrub = false,
        decontaminate = true, splitAtClusterGrain = true,
        importance = true, importanceSelect = true,
        pack = true,
        packShards = Some(graft.queries.Extensions.CurationShards),
        clock = () => fakeNow, sleep = d => fakeNow = fakeNow.plus(d))
      assert(stats.drainTicks == 1, s"expected one drain tick: $stats")
    }
    oneTick()
    assertSameRows(CorpusService.packManifestView(spark, p),
      graft.queries.Extensions.curationManifest(spark, base),
      "drain-1 maintained curation pack vs one-shot t40")

    // Wave 2 arrives; two packed docs are taken down before the drain.
    val dels = CorpusService.packManifestView(spark, p)
      .select("doc_id").distinct().orderBy("doc_id").limit(2)
      .collect().map(_.getLong(0)).toSeq
    docsAll.filter(col("doc_id") > cut)
      .write.mode("append").parquet(p.docs)
    Tables.t(spark, src, "embeddings").filter(col("vec_id") > cut)
      .write.mode("append").parquet(p.embeddings)
    CorpusService.deleteDocs(spark, p, dels)
    oneTick()
    val twin = java.nio.file.Files
      .createTempDirectory("graft-svct40twin").toString
    docsAll.filter(!col("doc_id").isin(dels: _*))
      .write.parquet(s"$twin/documents.parquet")
    docsAll.unpersist()
    assertSameRows(CorpusService.packManifestView(spark, p),
      graft.queries.Extensions.curationManifest(spark, twin),
      "drain-2 maintained curation pack vs never-ingested one-shot twin")
    // The takedown's score rows were physically purged on the tick and
    // never re-scored (purge finality inside the scheduled loop).
    assert(spark.read.parquet(p.dsirScoreLog)
      .filter(col("doc_id").isin(dels: _*)).count() == 0,
      "scheduled purge left / re-created score rows for taken-down docs")
  }

  test("scheduled loop retrains on the audit floor when growth does not fire") {
    val srcDir = sf("sf0.001")
    val base = java.nio.file.Files.createTempDirectory("graft-svcaudsched").toString
    val p = CorpusService.Paths(base)
    graft.Tables.t(spark, srcDir, "documents")
      .select("doc_id", "text", "lang").write.parquet(p.docs)
    graft.Tables.t(spark, srcDir, "embeddings").write.parquet(p.embeddings)

    // One 5-minute tick per run; the corpus never grows, so the growth
    // trigger can never fire — whatever retrains happen are the audit's.
    def oneTick(floor: Option[Long]): CorpusService.CorpusScheduleStats = {
      val t0 = java.time.LocalDateTime.parse("2024-06-01T12:00:00")
      var fakeNow = t0
      CorpusService.runScheduled(spark, p,
        stop = () => fakeNow.isAfter(t0.plusMinutes(1)),
        maintainEvery = 1, retrainFactor = 2.0, auditFloorPpm = floor,
        clock = () => fakeNow, sleep = d => fakeNow = fakeNow.plus(d))
    }

    // Tick 1 (no floor): builds the index, compacts — the baseline path.
    assert(oneTick(None) == CorpusService.CorpusScheduleStats(1, 0, 1))
    val anchor = CorpusService.trainedCount(spark, p)
    // Tick 2, floor below measured recall: audit runs, passes — still
    // the compaction path, no retrain.
    assert(oneTick(Some(1L)) == CorpusService.CorpusScheduleStats(1, 0, 1))
    // Tick 3, unreachable floor: the audit fails → quality retrain
    // (which rebuilds the index, so no separate compaction).
    assert(oneTick(Some(1000001L)) ==
      CorpusService.CorpusScheduleStats(1, 1, 0))
    assert(CorpusService.trainedCount(spark, p) == anchor,
      "audit retrain must re-anchor at the unchanged corpus size")
    // Serving is intact under the new epoch.
    assert(CorpusService.annTopK(spark, p).count() > 0)

    // The AUDIT LOG is the decision's record: every audited tick
    // appended exactly one epoch-tagged row (tick 1 had no floor — no
    // row; ticks 2 and 3 audited), the retrain-triggering tick's row
    // is IN the log (what fired is what was recorded), and the series
    // carries the loop clock, not wall time.
    val log = CorpusService.auditLogView(spark, p)
      .orderBy("audited_at").collect()
    assert(log.length == 2,
      s"one audit row per audited maintenance tick: ${log.toSeq}")
    log.foreach { r =>
      assert(r.getAs[Long]("epoch") == anchor.get,
        s"audit row must carry its quantizer epoch: $r")
      assert(r.getAs[Long]("n_indexed") > 0)
      assert(r.getAs[String]("audited_at").startsWith("2024-06-01T12:0"),
        s"audit row must carry the loop clock: $r")
      // Recall is only comparable within a probe width, so the row
      // records the width it was measured at (the serving dial).
      assert(r.getAs[Long]("nprobe") ==
        graft.queries.Extensions.DefaultNprobe.toLong,
        s"audit row must record its probe width: $r")
    }
    val fired = log.last.getAs[Long]("recall_ppm")
    assert(fired < 1000001L && fired == log.head.getAs[Long]("recall_ppm"),
      "the logged value is the measured recall that fired the retrain")
    // A further audited tick under the NEW epoch extends the series —
    // drift across appends is a queryable time series, per epoch.
    assert(oneTick(Some(1L)) == CorpusService.CorpusScheduleStats(1, 0, 1))
    assert(CorpusService.auditLogView(spark, p).count() == 3)
  }

  test("auditLogView reads a mixed-schema log (pre-nprobe files upgraded)") {
    // The nprobe column was added after the log format shipped. A plain
    // parquet read infers the schema from a SAMPLED file, so a log
    // mixing pre- and post-upgrade files could nondeterministically
    // drop the column; the view must mergeSchema and surface legacy
    // rows at the default width they were in fact measured at.
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-audit").toString
    val p = CorpusService.Paths(base)
    Seq((5L, 700000L, 100L, "2024-06-01T12:00:00"))
      .toDF("epoch", "recall_ppm", "n_indexed", "audited_at")
      .coalesce(1).write.mode("append").parquet(p.auditLog)
    Seq((5L, 720000L, 25L, 100L, "2024-06-01T12:05:00"))
      .toDF("epoch", "recall_ppm", "nprobe", "n_indexed", "audited_at")
      .coalesce(1).write.mode("append").parquet(p.auditLog)
    val rows = CorpusService.auditLogView(spark, p)
      .orderBy("audited_at").collect()
    assert(rows.length == 2, s"mixed-schema log lost rows: ${rows.toSeq}")
    assert(rows.head.getAs[Long]("nprobe") ==
      graft.queries.Extensions.DefaultNprobe.toLong,
      "legacy row must surface at the default probe width")
    assert(rows.last.getAs[Long]("nprobe") == 25L,
      "post-upgrade row must keep its recorded width")
  }

  test("dedupReport with a many-to-one semIdMap: no self-pairs, no dup rows") {
    // Synthetic pair logs drive the mapping edge cases directly: two
    // vec_ids of one document collapsing to a self-pair (must vanish)
    // and two embedding pairs collapsing onto one doc pair (must emit
    // once).
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-semmap").toString
    val p = CorpusService.Paths(base)
    Seq((10L, 11L)).toDF("new_doc", "other_doc")
      .write.parquet(p.pairs)
    Seq((1L, 2L, 400000L), (3L, 4L, 400000L), (5L, 6L, 400000L))
      .toDF("new_vec", "other_vec", "cos_ppm")
      .write.parquet(p.semPairs)
    val semIdMap = Seq(
      1L -> 100L, 2L -> 100L,          // same doc twice -> self-pair
      3L -> 200L, 4L -> 201L,          // two embedding pairs ...
      5L -> 200L, 6L -> 201L           // ... one doc pair
    ).toDF("vec_id", "doc_id")
    val report = CorpusService.dedupReport(spark, p, Some(semIdMap))
      .select("doc_a", "doc_b", "modality")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(report == Set((10L, 11L, "verbatim"), (200L, 201L, "semantic")),
      s"unexpected report rows: $report")
  }
}
