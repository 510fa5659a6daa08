package graft

import graft.queries.Extensions
import graft.streaming.StreamingSemanticDedup
import org.apache.spark.sql.functions._

/** Streaming-at-ingest SEMANTIC dedup ≡ one-shot s05 SemDeDup: the
  * quantizer is trained offline on the corpus, then the corpus streams
  * through it wave by wave — after all waves the accumulated pair log
  * must equal semdedupCells on the full corpus at the d05 threshold,
  * because every pair is discovered exactly when its later member
  * arrives. Plus exactly-once across re-runs and log compaction. */
class StreamingSemanticDedupSpec extends SparkSpec {

  private def committedBatches(ckpt: String): Int =
    new java.io.File(s"$ckpt/offsets")
      .listFiles().count(f => f.getName.forall(_.isDigit))

  test("wave-ingested semantic pair log equals one-shot s05 on the corpus") {
    val srcDir = sf("sf0.001")
    val base = java.nio.file.Files.createTempDirectory("graft-semdedup").toString
    val corpus = s"$base/embeddings.parquet"
    val (cent, assign, pairs, ckpt) =
      (s"$base/cents", s"$base/assigns", s"$base/pairs", s"$base/ckpt")

    // Corpus written as 3 files; maxFilesPerTrigger=1 then makes each
    // file its own micro-batch — a 3-wave ingest of a fixed corpus.
    val emb = graft.Tables.t(spark, srcDir, "embeddings")
      .select("vec_id", "embedding")
    (0 until 3).foreach { w =>
      emb.filter(pmod(col("vec_id"), lit(3)) === w)
        .coalesce(1).write.mode("append").parquet(corpus)
    }
    // Offline quantizer training on the corpus (the IVF deployment
    // shape: train once per corpus refresh, stream against the result).
    StreamingSemanticDedup.trainQuantizer(spark, base, cent)

    StreamingSemanticDedup.ingestAvailable(spark, corpus, cent, assign,
      pairs, ckpt, maxFilesPerTrigger = Some(1))
    assert(committedBatches(ckpt) >= 3,
      s"expected >=3 wave batches, got ${committedBatches(ckpt)}")

    // Equivalence with the one-shot batch computation on the full corpus.
    val streamed = StreamingSemanticDedup.pairsView(spark, pairs)
    val oneShot = Extensions.semdedupCells(spark, base)
      .select("vec_a", "vec_b", "cos_ppm")
    assertSameRows(streamed, oneShot, "streamed semantic pairs vs one-shot s05")
    assert(streamed.count() > 0, "corpus must contain semantic near-dups")

    // Exactly-once: no new files → a re-run appends nothing (raw count,
    // so silent double-appends can't hide behind the distinct view).
    val rawBefore = spark.read.parquet(pairs).count()
    StreamingSemanticDedup.ingestAvailable(spark, corpus, cent, assign,
      pairs, ckpt, maxFilesPerTrigger = Some(1))
    assert(spark.read.parquet(pairs).count() == rawBefore,
      "re-run without new embeddings must not re-append pairs")

    // Compaction bounds both logs without changing the views.
    val assignRows = StreamingSemanticDedup.assignTable(spark, assign).count()
    assert(StreamingSemanticDedup.compactLogs(spark, assign, pairs, files = 2),
      "no live writer — both logs must compact")
    def dataFiles(dir: String): Int = new java.io.File(dir)
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(dataFiles(assign) <= 2 && dataFiles(pairs) <= 2,
      s"compaction must bound files, got assign=${dataFiles(assign)} " +
        s"pairs=${dataFiles(pairs)}")
    assert(StreamingSemanticDedup.assignTable(spark, assign).count() == assignRows,
      "assignment view unchanged by compaction")
    assertSameRows(StreamingSemanticDedup.pairsView(spark, pairs), oneShot,
      "pair view unchanged by compaction")
  }

  test("Lloyd-refined quantizer ingest stays sound and keeps coverage") {
    // trainQuantizer(refine = true) probes s14's Lloyd-trained cells
    // instead of the raw hash-sampled seeds. The refined cells have no
    // one-shot oracle twin (s05's contract is the sampled quantizer),
    // so the pins are semantic: every logged pair is an exact-cosine
    // fact above the d05 threshold (soundness under ANY quantizer),
    // with the exact score, and cell coverage does not collapse
    // (refinement moves boundaries, it must not lose the near-dup
    // mass — floor at half the sampled quantizer's pair count).
    val srcDir = sf("sf0.001")
    val base = java.nio.file.Files.createTempDirectory("graft-refined").toString
    val corpus = s"$base/embeddings.parquet"
    val (cent, assign, pairs, ckpt) =
      (s"$base/cents", s"$base/assigns", s"$base/pairs", s"$base/ckpt")

    val emb = graft.Tables.t(spark, srcDir, "embeddings")
      .select("vec_id", "embedding")
    (0 until 2).foreach { w =>
      emb.filter(pmod(col("vec_id"), lit(2)) === w)
        .coalesce(1).write.mode("append").parquet(corpus)
    }
    StreamingSemanticDedup.trainQuantizer(spark, base, cent, refine = true)
    StreamingSemanticDedup.ingestAvailable(spark, corpus, cent, assign,
      pairs, ckpt, maxFilesPerTrigger = Some(1))

    val streamed = StreamingSemanticDedup.pairsView(spark, pairs)
    val exact = Extensions.dedupEmbedding(spark, base)
    // soundness: streamed ⊆ exact d05 pairs, scores identical
    val phantom = streamed.join(exact, Seq("vec_a", "vec_b"), "left_anti")
    assert(phantom.count() == 0, "refined-cell pair log emitted a non-pair")
    val wrongScore = streamed
      .join(exact.withColumnRenamed("cos_ppm", "exact_cos"),
        Seq("vec_a", "vec_b"))
      .filter(col("cos_ppm") =!= col("exact_cos"))
    assert(wrongScore.count() == 0, "refined-cell pair scored inexactly")
    // coverage floor vs the sampled quantizer's one-shot pairing
    val sampled = Extensions.semdedupCells(spark, base).count()
    val got = streamed.count()
    assert(got > 0 && got * 2 >= sampled,
      s"refined cells lost near-dup coverage: $got vs sampled $sampled")
  }

  test("retrain rebuilds assignments for a grown corpus; epoch semantics hold") {
    val srcDir = sf("sf0.001")
    val base = java.nio.file.Files.createTempDirectory("graft-retrain").toString
    val corpus = s"$base/embeddings.parquet"
    val (cent, assign, pairs, ckpt) =
      (s"$base/cents", s"$base/assigns", s"$base/pairs", s"$base/ckpt")
    val emb = graft.Tables.t(spark, srcDir, "embeddings")
      .select("vec_id", "embedding")

    // Epoch 1: two thirds of the corpus — train, ingest.
    emb.filter(pmod(col("vec_id"), lit(3)) < 2)
      .coalesce(1).write.mode("append").parquet(corpus)
    StreamingSemanticDedup.trainQuantizer(spark, base, cent)
    StreamingSemanticDedup.ingestAvailable(spark, corpus, cent, assign,
      pairs, ckpt)

    // The corpus grows; retrain re-derives the quantizer over the FULL
    // corpus (the memoized count is keyed by the table's snapshot — a
    // stale count would freeze the sqrt(n) stride) and rebuilds the
    // assignment table; then the
    // new files ingest against the rebuilt state.
    emb.filter(pmod(col("vec_id"), lit(3)) === 2)
      .coalesce(1).write.mode("append").parquet(corpus)
    StreamingSemanticDedup.retrain(spark, base, cent, assign)
    StreamingSemanticDedup.ingestAvailable(spark, corpus, cent, assign,
      pairs, ckpt)

    // Assignment table ≡ the full-corpus top-4 assignment under the NEW
    // quantizer (the re-ingested batch's duplicate appends collapse in
    // the distinct view — identical rows under identical centroids).
    val cents = spark.read.parquet(cent)
    val expected = Extensions.imiRank(
        Extensions.quantizeFrame(emb), cents, "vec_id", 2)
      .filter(col("rn") <= 4)
      .select(col("vec_id"), col("cent_id").as("cell"))
    assertSameRows(StreamingSemanticDedup.assignTable(spark, assign),
      expected, "rebuilt assignment table vs full-corpus recompute")

    // Soundness ACROSS epochs: every logged pair is a true >= threshold
    // near-dup (subset of the exact d05 pair set of the grown corpus).
    val streamed = StreamingSemanticDedup.pairsView(spark, pairs)
      .select("vec_a", "vec_b")
    val exact = Extensions.dedupEmbedding(spark, base)
      .select("vec_a", "vec_b")
    assert(streamed.join(exact, Seq("vec_a", "vec_b"), "left_anti").count() == 0,
      "a logged pair is not an exact near-dup — soundness broken")

    // Completeness FOR THE NEW EPOCH: every one-shot s05 pair (new
    // quantizer) whose later member arrived after the retrain must be
    // in the log — the batch probed the rebuilt table.
    val newEpochDue = Extensions.semdedupCells(spark, base)
      .select("vec_a", "vec_b")
      .filter(pmod(col("vec_a"), lit(3)) === 2 || pmod(col("vec_b"), lit(3)) === 2)
    assert(newEpochDue.join(streamed, Seq("vec_a", "vec_b"), "left_anti")
        .count() == 0,
      "a new-epoch s05 pair is missing from the log — completeness broken")
  }
}
