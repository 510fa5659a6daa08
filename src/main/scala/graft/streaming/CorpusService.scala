package graft.streaming

import graft.Snapshot.hasData
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The LLM-data twin of jobs.Main's always-on service: one corpus store
  * (documents + their embeddings, appended in waves by an upstream
  * pipeline) continuously deduplicated at ingest on BOTH axes —
  * verbatim (StreamingDedup's minhash-banded shingle probe) and
  * semantic (StreamingSemanticDedup's cell-blocked cosine probe) — with
  * every dedup log compacted between drains. Documents and embeddings
  * stream independently (each keeps its own checkpoint), so either side
  * may run ahead; the pair views stay correct at any interleaving
  * because each probe is exact against whatever the stores hold.
  *
  * This is a composition, not new machinery: it exists so the two
  * ingest-time dedup cycles, the offline quantizer, and the log
  * compaction story run as ONE deployable lifecycle, spec-proven
  * end-to-end (CorpusServiceSpec) the way PipelineSpec proves Main's.
  *
  * 100 TB posture is inherited from the parts: signature/assignment
  * tables are fixed bytes per doc, candidate joins shuffle at
  * collision grain, corpus fetches are key joins at candidate grain,
  * and compaction bounds every log's file count between drains. */
object CorpusService {

  /** Storage layout under `base`. The corpus table dirs double as the
    * Tables-compatible dirs the one-shot batch operators read, so
    * streamed and batch results are directly comparable. */
  final case class Paths(base: String) {
    val docs = s"$base/documents.parquet"
    val embeddings = s"$base/embeddings.parquet"
    val sigs = s"$base/dedup/sigs"
    val pairs = s"$base/dedup/pairs"
    val docsCkpt = s"$base/ckpt/docs_dedup"
    val cents = s"$base/dedup/cents"
    val assigns = s"$base/dedup/assigns"
    val semPairs = s"$base/dedup/sem_pairs"
    val embCkpt = s"$base/ckpt/emb_dedup"
    /** Corpus size at quantizer training — the growth trigger's anchor. */
    val quantMeta = s"$base/dedup/quant_meta"
    /** The maintained canonical-corpus artifact (streamed d07). */
    val canon = s"$base/dedup/canonical"
    /** The maintained serving index (s08/s09's layout). */
    val annIndex = s"$base/dedup/ann_index"
    /** The maintained training-set manifest (streamed t13/t16). */
    val trainingSet = s"$base/dedup/training_set"
    /** The ingest-time contamination drop list (streamed d09 vs an
      * external eval suite). */
    val contam = s"$base/dedup/contam"
    val contamCkpt = s"$base/ckpt/contam"
    /** The maintained cluster-label table (incremental d06) and the
      * pair snapshot it has incorporated — the delta anchor. */
    val clusters = s"$base/dedup/clusters"
    val clustersPairs = s"$base/dedup/clusters_pairs"
    /** The maintained scrubbed-corpus payload (t19 over the manifest). */
    val scrubbed = s"$base/dedup/scrubbed"
    /** Incremental scrub state: the (seg, doc_id) inverted index and
      * the versioned clean_text log (streaming.IncrementalScrub). */
    val scrubPostings = s"$base/dedup/scrub_postings"
    val scrubLog = s"$base/dedup/scrub_log"
    /** Media-fingerprint dedup state (StreamingFingerprint — the third
      * ingest-time modality): 16-byte signature rows + pair log. */
    val fpSigs = s"$base/dedup/fp_sigs"
    val fpPairs = s"$base/dedup/fp_pairs"
    val fpCkpt = s"$base/ckpt/fp_dedup"
    /** Novelty diagnostic state (streaming.NoveltyTable): the
      * (shingle, first_doc) first-seen table t22 probes and the
      * immutable per-doc novelty log (t21's schema). */
    val noveltyFirstSeen = s"$base/dedup/novelty_first_seen"
    val noveltyLog = s"$base/dedup/novelty"
    /** The maintained retrieval-grain chunk table (incremental t25;
      * streaming.ChunkTable — what the embedding job consumes). */
    val chunkLog = s"$base/dedup/chunks"
    /** The maintained lexical posting table (streaming.PostingTable —
      * the inverted file hybridTopKFor's lexical ranker reads). */
    val postings = s"$base/dedup/postings"
    /** Epoch state of the manifest's cluster-balanced diversity cap
      * (t24 as a maintained artifact): the capped (cell, doc_id) sample
      * refreshTrainingSet(clusterCap) keeps slots in. Quantizer-epoch
      * scoped — a retrain deletes it (new cells ⇒ resample). */
    val clusterSample = s"$base/dedup/cluster_sample"
    /** The maintained CHUNK-grain serving index (s18's scale path —
      * RAG serves chunks, not documents): the s08 layout built over the
      * chunk log's derived vectors, its own quantizer + SQ8 sidecars
      * trained at chunk grain. */
    val chunkIndex = s"$base/dedup/chunk_ann_index"
    /** The maintained chunk-EMBEDDING store (the embedding job's
      * output — ChunkTable.vecView): when present, the chunk index
      * builds from it and the RAG rerank fetches full vectors from it,
      * instead of re-deriving vectors per invocation (at scale the
      * derivation is a model forward pass, not a map). */
    val chunkVecs = s"$base/dedup/chunk_vecs"
    /** The maintained CHUNK-grain posting table (ChunkTable's posting
      * log — the lexical half of served chunk-hybrid retrieval). */
    val chunkPostings = s"$base/dedup/chunk_postings"
    /** The maintained PACK MANIFEST ([[refreshPackManifest]] — streamed
      * t28/t30): the trainer's sequence-packing spans over the
      * training-set manifest's train split. */
    val packManifest = s"$base/dedup/pack_manifest"
    /** The maintained TOKENIZER artifact ([[refreshTokenizer]] — t32's
      * rank-ordered merge list as service state) and its epoch meta
      * (live doc count at the last train — [[maybeRefreshTokenizer]]'s
      * growth anchor, the quantMeta pattern). */
    val bpeVocab = s"$base/dedup/bpe_vocab"
    val bpeVocabMeta = s"$base/dedup/bpe_vocab_meta"
    /** The maintained DSIR importance-weight artifact
      * ([[refreshDsirWeights]] — t38's frozen per-bucket weight table
      * as service state) and its epoch meta (the bpeVocabMeta
      * pattern). */
    val dsirWeights = s"$base/dedup/dsir_weights"
    val dsirWeightsMeta = s"$base/dedup/dsir_weights_meta"
    /** The maintained per-document importance-score log
      * ([[refreshImportanceScores]] — t38's scoring as SCORE-ON-INGEST
      * state): append-only (doc_id, n_bigrams, dsir_score_ppm, epoch)
      * rows, each scored under the frozen weight epoch tagged on it;
      * the view reads the current epoch only. */
    val dsirScoreLog = s"$base/dedup/dsir_scores"
    /** The maintained token-frequency CMS log ([[refreshTokenSketch]]):
      * one append-only table holding BOTH each drain's partial sketch
      * rows and its processed doc ids, so one parquet append commits
      * them together — no two-append crash window to replay-converge. */
    val cmsLog = s"$base/dedup/cms_log"
    /** The maintained length-histogram log ([[refreshLengthHistogram]]
      * — t39's mergeable quantile sketch as service state, the cmsLog
      * pattern verbatim: kind-tagged partial+seen rows in one append). */
    val histLog = s"$base/dedup/hist_log"
    /** The deletion tombstone set ([[deleteDocs]]): one doc_id per
      * deleted document, append-only. PERMANENT — the corpus store is
      * an append-only stream source that cannot be rewritten without
      * invalidating checkpoints, so tombstones gate every discovery
      * anti-join forever (else a purged doc would be re-discovered as
      * "new"). Thin: 8 bytes per deletion, read as one broadcast-grade
      * anti-join side. */
    val tombstones = s"$base/dedup/tombstones"
    /** The maintained RECALL-AUDIT LOG: one row per scheduled audit,
      * tagged with the quantizer epoch it measured — the served path's
      * recall as a queryable time series, so drift across appends
      * within an epoch (and the recovery at each retrain) is a stored
      * fact, not something reconstructed from scheduler logs. */
    val auditLog = s"$base/dedup/audit_log"
    /** The purge WATERMARK: the distinct-tombstone count at the last
      * purge that landed. Tombstones are permanent (they gate discovery
      * forever), so without this anchor every maintenance tick after
      * the first deletion would re-rewrite all ~17 stores despite
      * nothing new to remove — the purge must be paid once per NEW
      * deletion, not once per tick. */
    val purgeMark = s"$base/dedup/purge_mark"
  }

  /** Train (or re-train, on corpus refresh) the semantic side's coarse
    * quantizer from the current corpus, recording the corpus size it
    * was trained at (maybeRetrain's growth anchor). Run before the
    * first embedding drain; the stream only reads the result. */
  def trainQuantizer(spark: SparkSession, p: Paths,
                     refine: Boolean = false): Unit = {
    StreamingSemanticDedup.trainQuantizer(spark, p.base, p.cents, refine)
    recordTrainedCount(spark, p)
  }

  /** Quantizer refresh for a GROWN corpus: re-derive the centroid set
    * and rebuild the assignment table (StreamingSemanticDedup.retrain's
    * epoch semantics — pair log retained, sound across epochs). The
    * batch-side memos over the corpus dir (count, Bloom sketches, ANN
    * index, cluster labels) are keyed by the tables' snapshots and
    * follow the growth by themselves. Run in a quiesced window: no live
    * trigger, no concurrent drain. */
  def retrainQuantizer(spark: SparkSession, p: Paths): Unit = {
    StreamingSemanticDedup.retrain(spark, p.base, p.cents, p.assigns)
    // A new quantizer is a new EPOCH: every stored index row's cell is
    // assigned under the old centroid set, so a maintained serving
    // index is REBUILT here (staged swap — readers see old or new,
    // never a mix); the append path is only sound within an epoch.
    if (hasData(spark, p.annIndex)) rebuildIndex(spark, p)
    // The cluster-balanced manifest sample is epoch state too: its
    // cells are the old quantizer's. Delete it — the next capped
    // refresh resamples from scratch under the new cells (the
    // no-resampling guarantee is explicitly WITHIN an epoch).
    val csPath = new org.apache.hadoop.fs.Path(p.clusterSample)
    val fs = csPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(csPath)) fs.delete(csPath, true)
    recordTrainedCount(spark, p)
  }

  // ------------------------------------------------------------ deletion

  /** DELETE documents from the maintained corpus — the lifecycle verb
    * the reference's S8 reset becomes at service grain (takedowns and
    * recrawl-replacements are routine at 100 TB; they must not cost a
    * retrain). The call itself is O(deletions): it appends the ids to
    * the tombstone set and returns. From that moment every SERVED
    * surface (ANN in all payloads, hybrid, chunk retrieval, the dedup
    * report, the log views) excludes the deleted docs — the index reads
    * filter tombstoned rows until [[purgeTombstoned]] physically
    * removes them (epoch sidecars stay valid: deletion is NOT a
    * retrain), the lexical/posting side drops their rows at view grain,
    * and the derived artifacts (canonical, manifest, scrubbed payload)
    * exclude them at their next refresh. Discovery anti-joins are gated
    * by the tombstone set permanently, so a purged doc is never
    * re-ingested from the append-only corpus store.
    *
    * Idempotent and replay-safe: the tombstone view is a distinct
    * rollup of an append-only log, so calling twice (or a crash between
    * the append and any later purge) changes nothing. Semantics are the
    * strict takedown reading: the doc's CONTRIBUTIONS are forgotten too
    * — its dedup signatures and pairs stop matching future arrivals,
    * and its novelty first-seen attributions are dropped at purge (a
    * future doc re-introducing a shingle scores it novel again; the
    * conservation law holds over the live corpus). */
  def deleteDocs(spark: SparkSession, p: Paths, docIds: Seq[Long]): Unit = {
    import spark.implicits._
    docIds.toDF("doc_id").coalesce(1)
      .write.mode(SaveMode.Append).parquet(p.tombstones)
  }

  /** The tombstone set (empty-safe, distinct — absorbs replayed
    * appends). */
  def tombstoneView(spark: SparkSession, p: Paths): DataFrame =
    if (hasData(spark, p.tombstones))
      spark.read.parquet(p.tombstones).distinct()
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType))))

  /** The tombstone set when any deletion ever happened — None otherwise,
    * so the no-deletions path pays ZERO plan overhead (every filter
    * below folds away). */
  private def tombstonesOpt(spark: SparkSession, p: Paths): Option[DataFrame] =
    if (hasData(spark, p.tombstones)) Some(tombstoneView(spark, p)) else None

  /** Anti-join `df` against the tombstones on `key` (no-op when no
    * deletion ever happened). */
  private def dropTombstoned(spark: SparkSession, p: Paths, df: DataFrame,
                             key: String): DataFrame =
    tombstonesOpt(spark, p).fold(df)(t =>
      df.join(t.select(col("doc_id").as(key)), Seq(key), "left_anti"))

  /** Physically remove tombstoned rows from every maintained store —
    * the deferred half of [[deleteDocs]] (the expensive rewrites, paid
    * once per compaction window, not per delete). Run QUIESCED (no live
    * drain — the same contract as every compaction); each store
    * rewrites through the guarded staged swap, so a concurrent append
    * parks that store's purge and the method returns false (retry next
    * window). The tombstone set itself is never cleared: it still gates
    * discovery against the append-only corpus store. Serving is
    * unchanged by the purge — the views' anti-joins simply stop finding
    * rows to drop (spec-pinned). Index sidecars are carried untouched:
    * like compaction, a purge is a file-layout operation; the epoch
    * does not move. A landed purge records the tombstone count it
    * drained ([[Paths.purgeMark]]), so [[purgePending]] lets the
    * maintenance loop skip ticks where no NEW deletion arrived — the
    * rewrites really are paid once per deletion window, not once per
    * tick forever after the first delete. */
  def purgeTombstoned(spark: SparkSession, p: Paths): Boolean = {
    val tomb = tombstoneView(spark, p).localCheckpoint()
    val nTomb = tomb.count()
    def purge(path: String, keys: String*): Boolean =
      !hasData(spark, path) ||
        graft.jobs.Warehouse.guardedRewrite(spark, path) { stage =>
          keys.foldLeft(spark.read.parquet(path))((d, k) =>
              d.join(tomb.select(col("doc_id").as(k)), Seq(k), "left_anti"))
            .repartition(sizedParts(spark, path))
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(stage)
        }
    // The serving indexes: filtered rewrite with the sidecars carried
    // (tryCompactAnnIndex's shape plus the row filter). Chunk-grain
    // rows key by doc via the vec_id div 4096 packing.
    def purgeIndex(path: String, docOf: org.apache.spark.sql.Column): Boolean =
      !hasData(spark, path) ||
        graft.jobs.Warehouse.guardedRewrite(spark, path) { stage =>
          spark.read.parquet(path).distinct()
            .withColumn("__doc", docOf)
            .join(tomb.select(col("doc_id").as("__doc")), Seq("__doc"),
              "left_anti")
            .drop("__doc")
            .repartition(col("cell"))
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .partitionBy("cell").parquet(stage)
          graft.queries.Extensions.carryAnnSidecars(spark, path, stage)
        }
    val ok =
      purge(p.sigs, "doc_id") &&
      purge(p.pairs, "new_doc", "other_doc") &&
      purge(p.assigns, "vec_id") &&
      purge(p.semPairs, "new_vec", "other_vec") &&
      purge(p.fpSigs, "doc_id") &&
      purge(p.fpPairs, "doc_a", "doc_b") &&
      purge(p.postings, "doc_id") &&
      purge(p.chunkLog, "doc_id") &&
      purge(p.scrubPostings, "doc_id") &&
      purge(p.scrubLog, "doc_id") &&
      purge(p.noveltyLog, "doc_id") &&
      purge(p.noveltyFirstSeen, "first_doc") &&
      // Physical pack-span removal (the view already gates; the next
      // refreshPackManifest re-packs hole-free — purge just stops the
      // spans' bytes from outliving the takedown).
      purge(p.packManifest, "doc_id") &&
      // The training handoff payload: full clean_text rows — the purge
      // MUST reach it or a takedown's bytes outlive the delete in the
      // most sensitive store the service maintains.
      purge(p.scrubbed, "doc_id") &&
      // Per-doc importance scores are derived from the deleted text;
      // the view already gates, the purge removes the rows' bytes.
      purge(p.dsirScoreLog, "doc_id") &&
      purgeIndex(p.annIndex, col("vec_id")) &&
      purgeIndex(p.chunkIndex, expr("CAST(vec_id div 4096 AS BIGINT)")) &&
      (!hasData(spark, p.chunkPostings) ||
        graft.jobs.Warehouse.guardedRewrite(spark, p.chunkPostings) { stage =>
          spark.read.parquet(p.chunkPostings)
            .withColumn("__doc", shiftright(col("doc_id"), 12))
            .join(tomb.select(col("doc_id").as("__doc")), Seq("__doc"),
              "left_anti")
            .drop("__doc")
            .repartition(sizedParts(spark, p.chunkPostings))
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(stage)
        }) &&
      (!hasData(spark, p.chunkVecs) ||
        graft.jobs.Warehouse.guardedRewrite(spark, p.chunkVecs) { stage =>
          spark.read.parquet(p.chunkVecs)
            .withColumn("__doc", expr("vec_id div 4096"))
            .join(tomb.select(col("doc_id").as("__doc")), Seq("__doc"),
              "left_anti")
            .drop("__doc")
            .repartition(sizedParts(spark, p.chunkVecs))
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(stage)
        })
    // The CMS artifact purges by SUBTRACTION — the linear-sketch
    // property doing the work a rewrite cannot (partial sketches are
    // not per-doc rows): append the negated partial sketch of the
    // tombstoned-and-sketched docs, and the merged view equals the
    // sketch of a corpus that never held them, bucket-for-bucket
    // (per-bucket counts are sums of per-doc contributions). "purged"
    // markers ride the SAME append (one-parquet-commit atomicity, the
    // cms+seen pattern), so a crash-replayed purge subtracts nothing
    // twice; the "seen" rows stay — like the tombstones themselves,
    // they gate re-ingestion from the append-only corpus store forever.
    val cmsOk = ok && (!hasData(spark, p.cmsLog) || {
      val log = spark.read.parquet(p.cmsLog)
      val toDrop = tomb
        .join(log.filter(col("kind") === "seen").select("doc_id"),
          Seq("doc_id"), "left_semi")
        .join(log.filter(col("kind") === "purged").select("doc_id"),
          Seq("doc_id"), "left_anti")
      val delDocs = graft.Tables.t(spark, p.base, "documents")
        .join(toDrop, Seq("doc_id"), "left_semi")
      if (!delDocs.isEmpty) {
        val neg = graft.queries.Extensions.cmsSketchOf(delDocs)
          .select(lit("cms").as("kind"), lit(null).cast("long").as("doc_id"),
            col("j"), col("b"), (-col("c")).as("c"))
        val mark = delDocs.select(lit("purged").as("kind"), col("doc_id"),
          lit(null).cast("int").as("j"), lit(null).cast("long").as("b"),
          lit(null).cast("long").as("c"))
        neg.unionByName(mark)
          .write.mode(SaveMode.Append).parquet(p.cmsLog)
      }
      true
    })
    // The length-histogram artifact purges by the same linear-sketch
    // subtraction (refreshLengthHistogram's (lang, bin, cnt) partials
    // sum, so the tombstoned docs' negated partial cancels exactly).
    val histOk = cmsOk && (!hasData(spark, p.histLog) || {
      val log = spark.read.parquet(p.histLog)
      val toDrop = tomb
        .join(log.filter(col("kind") === "seen").select("doc_id"),
          Seq("doc_id"), "left_semi")
        .join(log.filter(col("kind") === "purged").select("doc_id"),
          Seq("doc_id"), "left_anti")
      val delDocs = graft.Tables.t(spark, p.base, "documents")
        .join(toDrop, Seq("doc_id"), "left_semi")
      if (!delDocs.isEmpty) {
        val neg = graft.queries.Extensions.histSketchOf(delDocs)
          .select(lit("hist").as("kind"), lit(null).cast("long").as("doc_id"),
            col("lang"), col("bin"), (-col("cnt")).as("cnt"))
        val mark = delDocs.select(lit("purged").as("kind"), col("doc_id"),
          lit(null).cast("string").as("lang"), lit(null).cast("long").as("bin"),
          lit(null).cast("long").as("cnt"))
        neg.unionByName(mark)
          .write.mode(SaveMode.Append).parquet(p.histLog)
      }
      true
    })
    graft.queries.Extensions.freeCkpt(tomb)
    // Watermark the purge that landed: the tombstone set is permanent
    // (it gates discovery forever), so [[purgePending]] needs this
    // anchor to stop the maintenance loop from re-rewriting every store
    // on every tick after the first deletion.
    if (histOk)
      spark.range(1).select(lit(nTomb).as("n_tombstones")).coalesce(1)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(p.purgeMark)
    histOk
  }

  /** Partition count for a purge rewrite, derived from the store's
    * measured on-disk size (~128 MB per output task, floor 1, capped at
    * the session shuffle parallelism) — the CC loop's measured-size
    * pattern applied to the one write family that used to be pinned: a
    * fixed count is either task-per-row at test scale or a 4-task
    * bottleneck rewriting a 100 TB posting store. */
  private[graft] def sizedParts(spark: SparkSession, path: String,
                                targetBytes: Long = 128L << 20): Int = {
    val p0 = new org.apache.hadoop.fs.Path(path)
    val fs = p0.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(p0).getLength
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    math.max(1, math.min(sessionParts.toLong, bytes / targetBytes + 1L).toInt)
  }

  /** True when the tombstone set has GROWN since the last purge that
    * landed — [[runScheduled]]'s skip dial. Tombstones are never
    * cleared (they gate re-discovery forever), so "tombstones exist"
    * alone would re-rewrite all ~17 maintained stores on every
    * maintenance tick after the first deletion; the purge is paid once
    * per new deletion window, as documented. */
  def purgePending(spark: SparkSession, p: Paths): Boolean =
    hasData(spark, p.tombstones) && {
      val n = tombstoneView(spark, p).count()
      !hasData(spark, p.purgeMark) ||
        spark.read.parquet(p.purgeMark).head.getLong(0) < n
    }

  private def rebuildIndex(spark: SparkSession, p: Paths): Unit =
    graft.jobs.Warehouse.replaceVia(spark, p.annIndex) { stage =>
      val emb = dropTombstoned(spark, p,
        graft.Tables.t(spark, p.base, "embeddings"), "vec_id")
      graft.queries.Extensions.buildAnnIndexFrom(
        graft.queries.Extensions.quantizeFrame(emb),
        spark.read.parquet(p.cents), stage,
        meta = graft.queries.Extensions.metaOf(emb))
    }

  /** Maintain the SERVING index (s08/s09's warehouse layout) over the
    * growing corpus: the first call builds it under the service's own
    * offline-trained quantizer (p.cents — the same epoch the streaming
    * assignment table uses, persisted again in the index's sidecar);
    * later calls append only not-yet-indexed vectors under that frozen
    * sidecar quantizer — O(new vectors) per wave, never a rebuild. Call
    * post-drain or in any quiesced window. The build is staged-swapped;
    * appends add files without touching existing ones, so index readers
    * are safe against both. Serving goes through [[annTopK]], which
    * probes the sidecar quantizer — the epoch that assigned the rows,
    * whatever retrained since. (The index's thin membership rows
    * duplicate the streaming ASSIGNMENT log's content by design: the
    * log is probe state — append-only, compacted, read every
    * micro-batch; the index is the serving artifact — cell-partitioned
    * with the prefix payload, read by queries. They serve different
    * access paths off the same epoch.) */
  def refreshAnnIndex(spark: SparkSession, p: Paths): Unit =
    if (hasData(spark, p.annIndex)) tombstonesOpt(spark, p) match {
      case None =>
        graft.queries.Extensions.appendAnnIndex(spark, p.base, p.annIndex)
      case Some(t) =>
        // Deletions gate append discovery too: the corpus store still
        // carries a purged doc's embedding, and without this anti-join
        // the next refresh would re-index it.
        val newVecs = graft.Tables.t(spark, p.base, "embeddings")
          .join(spark.read.parquet(p.annIndex).select("vec_id"),
            Seq("vec_id"), "left_anti")
          .join(t.select(col("doc_id").as("vec_id")), Seq("vec_id"),
            "left_anti")
        graft.queries.Extensions.appendAnnIndex(spark, p.base, p.annIndex,
          newVectors = Some(newVecs))
    }
    else rebuildIndex(spark, p)

  /** ANN top-k served off the maintained index — s08's read path at the
    * service's index location. Tombstoned rows are filtered out of the
    * index read (all serving entries below share this), so post-delete
    * serving equals a rebuild-without-the-docs under the same epoch.
    * `nprobe` is the recall/latency dial every real ANN deployment
    * tunes (more probed cells = more of the corpus mass scored); the
    * recall audit prices each setting and logs the width per row. */
  def annTopK(spark: SparkSession, p: Paths,
              nprobe: Int = graft.queries.Extensions.DefaultNprobe)
      : DataFrame =
    graft.queries.Extensions.annIvfIndexedAt(spark, p.base, p.annIndex,
      dropIds = tombstoneIds(spark, p), nprobe = nprobe)

  /** ANN top-k through the index-resident SQ8 codes (s17's read path) —
    * the byte-compressed coarse pass over the same maintained index:
    * probes prune cells, stored codes score candidates (1 byte/dim at
    * scale vs the prefix's 8), the exact rerank fetches full vectors at
    * candidate grain. Same index artifact, second serving dial. */
  def annSq8TopK(spark: SparkSession, p: Paths): DataFrame =
    graft.queries.Extensions.annIvfSq8IndexedAt(spark, p.base, p.annIndex,
      dropIds = tombstoneIds(spark, p))

  /** The tombstone set as a thin (vec_id) drop frame for the index
    * serving entries (doc_id ≡ vec_id, this corpus's id contract);
    * None when no deletion ever happened — the serving plans then carry
    * no filter at all. */
  private def tombstoneIds(spark: SparkSession, p: Paths): Option[DataFrame] =
    tombstonesOpt(spark, p).map(_.select(col("doc_id").as("vec_id")))

  /** ANN top-k for EXTERNAL query vectors ((vec_id, embedding) rows that
    * are not part of the corpus — the request path a deployment actually
    * serves) off the maintained index. No self-exclusion: external ids
    * share no space with corpus ids, so a numeric collision must not
    * drop a true neighbor. */
  def annTopKFor(spark: SparkSession, p: Paths, queries: DataFrame,
                 nprobe: Int = graft.queries.Extensions.DefaultNprobe)
      : DataFrame =
    graft.queries.Extensions.annIvfIndexedQueries(spark, p.base, queries,
      p.annIndex, dropIds = tombstoneIds(spark, p), nprobe = nprobe)

  /** FILTERED ANN for external query vectors — the request names its
    * metadata filter ((vec_id, embedding, label) rows) and neighbors
    * come only from index rows carrying that label (s12's read path:
    * partition-pruned cells, label equality at the pruned scan). Only
    * meaningful when the service corpus carries labels (metaOf's rule —
    * a label-less corpus has a null label column, which matches no
    * filter). */
  def annTopKFilteredFor(spark: SparkSession, p: Paths,
                         queries: DataFrame): DataFrame =
    graft.queries.Extensions.annIvfFilteredQueries(spark, p.base, queries,
      p.annIndex, dropIds = tombstoneIds(spark, p))

  private def embeddingCount(spark: SparkSession, p: Paths): Long =
    graft.Tables.t(spark, p.base, "embeddings")
      .select(col("vec_id")).count()

  private def recordTrainedCount(spark: SparkSession, p: Paths): Unit = {
    import spark.implicits._
    Seq(embeddingCount(spark, p)).toDF("trained_count")
      .coalesce(1).write.mode("overwrite").parquet(p.quantMeta)
  }

  private[graft] def trainedCount(spark: SparkSession, p: Paths): Option[Long] = {
    val path = new org.apache.hadoop.fs.Path(p.quantMeta)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) None
    else Some(spark.read.parquet(p.quantMeta).head().getLong(0))
  }

  /** The growth-keyed retrain trigger — the piece that closes the
    * quantizer-staleness loop for the always-on form: when the
    * embedding corpus has grown to ≥ `factor`× the size the quantizer
    * was trained at, quiesce both ingesters, retrain (epoch semantics —
    * the pair log stays sound; completeness restarts on the new cells),
    * and resume on the same checkpoints. Below the threshold it is a
    * metadata count + one parquet-row read — cheap enough to call on
    * the compaction cadence (cf. runScheduled's compactEvery ticks).
    * Returns the possibly-new handle; callers must adopt it. */
  def maybeRetrain(spark: SparkSession, p: Paths, r: Running,
                   factor: Double = 2.0,
                   interval: String = "5 minutes"): Running =
    if (!grown(spark, p, factor)) r
    else {
      r.drainAndStop()
      retrainQuantizer(spark, p)
      start(spark, p, interval, fingerprint = r.fingerprint.isDefined)
    }

  private def grown(spark: SparkSession, p: Paths, factor: Double): Boolean =
    trainedCount(spark, p).exists { trained =>
      trained > 0 && embeddingCount(spark, p) >= factor * trained
    }

  /** s24 off the MAINTAINED surface: per-query recall@5 of [[annTopK]]
    * — the tombstone-filtered stored-index read path — against the
    * exact scan over the LIVE corpus (same tombstone filter: a deleted
    * doc is neither a query nor a truth neighbor). This is the health
    * metric the one-shot s24 anchors: approximate serving trades recall
    * for the cell-probe cost model, and the trade drifts as appends
    * fill cells unevenly within a frozen quantizer epoch, so the audit
    * runs on the maintenance cadence and its drop — not a growth
    * ratio — is the retrain signal that tracks what users actually
    * experience. Cost is |probe set| × live corpus for the exact side
    * (scheduled, never per-request) plus one pruned index read. */
  def recallAuditReport(spark: SparkSession, p: Paths,
      nprobe: Int = graft.queries.Extensions.DefaultNprobe): DataFrame = {
    val live = graft.queries.Extensions.quantizeFrame(dropTombstoned(
      spark, p, graft.Tables.t(spark, p.base, "embeddings"), "vec_id"))
    graft.queries.Extensions.recallAuditOf(
      graft.queries.Extensions.annCosineTopKOf(live),
      annTopK(spark, p, nprobe))
  }

  /** The audited mean recall in ppm — the scalar the retrain decision
    * keys off (truncating integer mean over the probe queries). The
    * `nprobe` passed here is what a deployment uses to PRICE the
    * recall/latency dial: audit two widths, read two recalls. */
  def auditedRecallPpm(spark: SparkSession, p: Paths,
      nprobe: Int = graft.queries.Extensions.DefaultNprobe): Long = {
    val r = recallAuditReport(spark, p, nprobe)
      .agg(sum("recall_ppm").as("s"), count(lit(1)).as("n")).head()
    if (r.getLong(1) == 0) 0L else r.getLong(0) / r.getLong(1)
  }

  /** Run the recall audit and APPEND it to the maintained audit log —
    * the [[runScheduled]] maintenance path's form of [[auditedRecallPpm]]:
    * same scalar, plus the epoch tag (the trained-corpus anchor the
    * current quantizer was derived at), the live indexed row count, and
    * the loop-clock timestamp, as one appended row. The log is the
    * BENCH-style artifact for serving quality: recall_ppm over
    * (epoch, time) shows intra-epoch drift as appends fill cells
    * unevenly and the recovery step at each retrain — the time series a
    * deployment alerts on. Returns the audited ppm so the caller's
    * retrain decision reads the same number that was logged (decide
    * from the log, never from a second audit). */
  def recordRecallAudit(spark: SparkSession, p: Paths,
      at: java.time.LocalDateTime,
      nprobe: Int = graft.queries.Extensions.DefaultNprobe): Long = {
    val ppm = auditedRecallPpm(spark, p, nprobe)
    val epoch = trainedCount(spark, p).getOrElse(0L)
    val nIndexed = spark.read.parquet(p.annIndex)
      .filter(col("rn") === 1).count()
    spark.range(1).select(
        lit(epoch).as("epoch"),
        lit(ppm).as("recall_ppm"),
        lit(nprobe.toLong).as("nprobe"),
        lit(nIndexed).as("n_indexed"),
        lit(at.toString).as("audited_at"))
      .coalesce(1)
      .write.mode(SaveMode.Append).parquet(p.auditLog)
    ppm
  }

  /** The recall-audit time series (empty-safe). Each row carries the
    * probe width it was measured at — recall is only comparable within
    * an nprobe setting, and the (nprobe, recall_ppm) pairs ARE the
    * priced dial a deployment reads to pick its request-class width. */
  def auditLogView(spark: SparkSession, p: Paths): DataFrame =
    if (hasData(spark, p.auditLog)) {
      // The nprobe column was added after the log format shipped: a log
      // whose older parquet files lack it must read with mergeSchema
      // (plain read infers from a SAMPLED file — the column would
      // nondeterministically vanish or the read fail on a mixed log),
      // and pre-upgrade rows surface as nprobe NULL → the default width
      // they were in fact measured at (the dsirEpoch missing-column
      // pattern).
      val raw = spark.read.option("mergeSchema", "true").parquet(p.auditLog)
      if (raw.columns.contains("nprobe"))
        raw.withColumn("nprobe", coalesce(col("nprobe"),
          lit(graft.queries.Extensions.DefaultNprobe.toLong)))
      else raw.withColumn("nprobe",
        lit(graft.queries.Extensions.DefaultNprobe.toLong))
    } else spark.range(0).select(
      col("id").as("epoch"), col("id").as("recall_ppm"),
      col("id").as("nprobe"),
      col("id").as("n_indexed"), col("id").cast("string").as("audited_at"))

  /** The QUALITY-keyed retrain trigger — [[maybeRetrain]]'s twin keyed
    * on what users actually experience instead of a growth proxy: when
    * the audited mean recall of the served path falls below `floorPpm`,
    * quiesce both ingesters, retrain (rebuilding the index under the
    * new epoch), and resume on the same checkpoints; at or above the
    * floor it returns the same handle untouched. The audit pays one
    * |probe|×corpus exact scan, so it belongs on the maintenance
    * cadence next to compaction, not on every drain. Growth and quality
    * triggers compose: growth catches staleness before it bites,
    * the audit catches the bite itself (skewed appends that degrade
    * recall without doubling the corpus). */
  def auditRetrain(spark: SparkSession, p: Paths, r: Running,
                   floorPpm: Long = 600000L,
                   interval: String = "5 minutes"): Running =
    if (auditedRecallPpm(spark, p) >= floorPpm) r
    else {
      r.drainAndStop()
      retrainQuantizer(spark, p)
      start(spark, p, interval, fingerprint = r.fingerprint.isDefined)
    }

  /** Drain everything currently in both stores through both dedup
    * cycles — and, with `contaminationRef`, through the ingest-time
    * leakage gate against that external eval suite — then compact every
    * written log (no live writer remains after the drains, so the
    * compaction passes must land — `require`d). `maxFilesPerTrigger`
    * bounds micro-batch size for backlogs. With `scrub`, the
    * incremental boilerplate-scrub state (IncrementalScrub) is
    * maintained in the same post-drain window — delta-grain (new docs
    * plus threshold-crossing-affected), and its two stores join the
    * compaction set; the scrub logs also compact whenever they exist
    * from an earlier maintainScrub, scrub flag or not. */
  def drainAvailable(spark: SparkSession, p: Paths,
                     maxFilesPerTrigger: Option[Int] = None,
                     compact: Boolean = true,
                     canonical: Boolean = true,
                     index: Boolean = false,
                     contaminationRef: Option[String] = None,
                     scrub: Boolean = false,
                     fingerprint: Boolean = false,
                     novelty: Boolean = false,
                     chunks: Boolean = false,
                     postings: Boolean = false): Unit = {
    StreamingDedup.ingestAvailable(spark, p.docs, p.sigs, p.pairs, p.docsCkpt)
    StreamingSemanticDedup.ingestAvailable(spark, p.embeddings, p.cents,
      p.assigns, p.semPairs, p.embCkpt, maxFilesPerTrigger)
    contaminationRef.foreach { ref =>
      StreamingContamination.ingestAvailable(spark, p.docs, ref,
        p.contam, p.contamCkpt)
    }
    // The media-fingerprint cycle reads the SAME document store on its
    // own checkpoint — a third independent consumer of the corpus log.
    if (fingerprint)
      StreamingFingerprint.ingestAvailable(spark, p.docs, p.fpSigs,
        p.fpPairs, p.fpCkpt)
    if (scrub) maintainScrub(spark, p)
    if (novelty) maintainNovelty(spark, p)
    if (chunks) maintainChunks(spark, p)
    if (postings) maintainPostings(spark, p)
    if (compact) {
      require(StreamingDedup.compactLogs(spark, p.sigs, p.pairs),
        "corpus service: shingle dedup logs failed to compact post-drain")
      require(StreamingSemanticDedup.compactLogs(spark, p.assigns, p.semPairs),
        "corpus service: semantic dedup logs failed to compact post-drain")
      if (contaminationRef.isDefined)
        require(StreamingContamination.compactLog(spark, p.contam),
          "corpus service: contamination log failed to compact post-drain")
      if (hasData(spark, p.scrubLog))
        require(IncrementalScrub.compactLogs(spark, p.scrubPostings, p.scrubLog),
          "corpus service: scrub logs failed to compact post-drain")
      // Like the scrub logs: compact whenever they exist from an earlier
      // fingerprint drain, flag or not.
      if (hasData(spark, p.fpPairs))
        require(StreamingFingerprint.compactLogs(spark, p.fpSigs, p.fpPairs),
          "corpus service: fingerprint dedup logs failed to compact post-drain")
      if (hasData(spark, p.noveltyLog))
        require(NoveltyTable.compactLogs(spark, p.noveltyFirstSeen, p.noveltyLog),
          "corpus service: novelty logs failed to compact post-drain")
      if (hasData(spark, p.chunkLog))
        require(ChunkTable.compactLog(spark, p.chunkLog),
          "corpus service: chunk log failed to compact post-drain")
      if (hasData(spark, p.postings))
        require(PostingTable.compactLog(spark, p.postings),
          "corpus service: posting log failed to compact post-drain")
      if (hasData(spark, p.chunkVecs))
        require(ChunkTable.compactVectors(spark, p.chunkVecs),
          "corpus service: chunk vector store failed to compact post-drain")
      if (hasData(spark, p.chunkPostings))
        require(ChunkTable.compactPostings(spark, p.chunkPostings),
          "corpus service: chunk posting log failed to compact post-drain")
    }
    if (canonical) refreshCanonicalCorpus(spark, p)
    if (index) refreshAnnIndex(spark, p)
  }

  /** The media-fingerprint pair view (the third dedup axis —
    * StreamingFingerprint's log; empty-safe only once a fingerprint
    * drain ran). [[dedupReport]] merges these pairs into the unified
    * summary alongside verbatim and semantic; this view remains the
    * payload-axis detail (it carries the hamming distances the
    * summary drops). */
  def fingerprintPairsView(spark: SparkSession, p: Paths): DataFrame =
    dropTombstoned(spark, p,
      dropTombstoned(spark, p,
        StreamingFingerprint.pairsView(spark, p.fpPairs), "doc_a"),
      "doc_b")

  /** The ingest-time contamination drop list (empty-safe). A maintained
    * training set that must exclude suite-leaked documents anti-joins
    * this at materialization — the leak was already caught at arrival. */
  def contaminationView(spark: SparkSession, p: Paths): DataFrame =
    StreamingContamination.contamView(spark, p.contam)

  /** The MAINTAINED canonical-corpus artifact — the streaming twin of
    * d07's resolution: the accumulated verbatim pair log clusters
    * (connected components) and resolves to keep/drop, materialized at
    * `p.canon` via a staged swap so readers never see a half-written
    * table. drainAvailable refreshes it per drain; always-on callers
    * refresh on their own cadence (the pair log is a point-in-time
    * snapshot either way). Because the streamed pair log ≡ the one-shot
    * LSH pair set (CorpusServiceSpec) and the resolution is the SAME
    * code path as d07 (Extensions.canonicalResolution), the artifact
    * after any wave sequence equals one-shot canonicalCorpus on the
    * final corpus — and t13's materialization over it follows.
    *
    * `includeSemantic` also merges the SEMANTIC pair log into the
    * cluster graph before resolving (vec ids mapped 1:1 onto doc ids,
    * this corpus's id contract — cf. dedupReport's semIdMap for
    * deployments where they differ): the artifact then carries the
    * keep/drop decision across BOTH dedup modalities — the training-set
    * endpoint where a verbatim copy and a paraphrase-grade near-dup
    * both resolve to one canonical. Its one-shot twin is the resolution
    * over lshPairs ∪ s05's pairs (spec-pinned).
    *
    * The cluster labels are maintained INCREMENTALLY: the label table
    * (p.clusters) persists alongside the exact pair snapshot it has
    * incorporated (p.clustersPairs), and each refresh anti-joins the
    * current pair logs against that snapshot — only the delta and the
    * clusters it touches re-enter the fixpoint
    * (Extensions.incrementalClusters, spec-pinned ≡ full recompute);
    * untouched components carry over verbatim. If the pair universe
    * SHRANK (a caller narrowed includeSemantic after a wider refresh —
    * un-merging is not expressible as edge addition) the labels rebuild
    * from scratch, detected by a one-row probe of snapshot∖current.
    *
    * Scale: the pair logs are collision-grain (≪ corpus), the per-drain
    * delta is a vanishing fraction of the accumulated log, the CC
    * fixpoint runs only over that delta and its touched clusters, and
    * the only corpus-wide touch is the (doc_id, lang) projection — one
    * narrow scan per refresh. */
  def refreshCanonicalCorpus(spark: SparkSession, p: Paths,
                             includeSemantic: Boolean = false,
                             includeFingerprint: Boolean = false): Unit = {
    def ifPresent(dir: String)(view: => DataFrame): Option[DataFrame] =
      if (hasData(spark, dir)) Some(view) else None
    // Deleted docs leave the cluster graph (both endpoints) and the
    // corpus projection below, so the refreshed artifact equals the
    // rebuild-without-the-docs resolution. Removing edges can only
    // SHRINK the pair universe, which the snapshot probe below already
    // detects — a post-delete refresh takes the from-scratch path.
    def liveAB(df: DataFrame): DataFrame =
      dropTombstoned(spark, p,
        dropTombstoned(spark, p, df, "doc_a"), "doc_b")
    val verbatim = ifPresent(p.pairs)(liveAB(
      StreamingDedup.pairsView(spark, p.pairs).select("doc_a", "doc_b")))
    val semantic =
      if (!includeSemantic) None
      else ifPresent(p.semPairs)(liveAB(
        StreamingSemanticDedup.pairsView(spark, p.semPairs)
          .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))))
    // The media axis: fingerprint pairs are doc-id pairs already, so a
    // re-encoded/locally-edited copy resolves to the same canonical as
    // a verbatim or paraphrase one — all three modality graphs merge
    // before clustering. Same shrink contract as includeSemantic: a
    // caller narrowing the mix later triggers the from-scratch rebuild.
    val fingerprint =
      if (!includeFingerprint) None
      else ifPresent(p.fpPairs)(liveAB(
        StreamingFingerprint.pairsView(spark, p.fpPairs)
          .select("doc_a", "doc_b")))
    val allPairs = (verbatim.toSeq ++ semantic.toSeq ++ fingerprint.toSeq)
      .reduceOption(_ unionByName _).map(_.distinct())
    val emptyLabels = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("cluster_id",
          org.apache.spark.sql.types.LongType))))
    val labels = allPairs match {
      case None => emptyLabels
      case Some(pairsNow0) =>
        val pairsNow = pairsNow0.localCheckpoint()
        val out =
          if (!hasData(spark, p.clusters) || !hasData(spark, p.clustersPairs))
            graft.queries.Extensions.clusterPairs(pairsNow)
          else {
            val prevPairs = spark.read.parquet(p.clustersPairs)
            val shrank = !prevPairs
              .join(pairsNow, Seq("doc_a", "doc_b"), "left_anti")
              .isEmpty
            if (shrank) graft.queries.Extensions.clusterPairs(pairsNow)
            else graft.queries.Extensions.incrementalClusters(
              spark.read.parquet(p.clusters),
              pairsNow.join(prevPairs, Seq("doc_a", "doc_b"), "left_anti"))
          }
        // Labels first (its plan may read the OLD p.clusters — the swap
        // inside replaceReport only lands after the stage write fully
        // consumed it), then the snapshot that anchors the next delta.
        graft.jobs.Warehouse.replaceReport(spark, out, p.clusters)
        graft.jobs.Warehouse.replaceReport(spark, pairsNow, p.clustersPairs)
        graft.queries.Extensions.freeCkpt(pairsNow)
        spark.read.parquet(p.clusters)
    }
    val canon = graft.queries.Extensions.canonicalResolution(
      dropTombstoned(spark, p,
        graft.Tables.t(spark, p.base, "documents")
          .select(col("doc_id"), col("lang")),
        "doc_id"),
      labels)
    graft.jobs.Warehouse.replaceReport(spark, canon, p.canon)
  }

  /** Read the maintained artifact (refreshCanonicalCorpus's output). */
  def canonicalCorpusView(spark: SparkSession, p: Paths): DataFrame =
    spark.read.parquet(p.canon)

  /** The maintained TRAINING-SET manifest — the artifact the whole
    * lifecycle exists to produce, materialized at doc grain
    * (doc_id, lang, split, n_toks): every document that survives the
    * maintained canonical keep/drop (p.canon — whichever modality mix
    * the caller last refreshed it with) and the quality gate, minus —
    * with `decontaminate` — train documents sharing any verbatim 8-gram
    * with the held-out test split. This is the streamed twin of
    * t13/t16: the same trainingManifest / contaminatedTrainDocs code
    * paths, with the canonical source READ from the maintained artifact
    * instead of recomputed (the storage-for-recompute swap the pair
    * logs and the serving index already make), so its (lang, split)
    * summary equals the one-shot operators on the final corpus
    * (spec-pinned). Refresh after refreshCanonicalCorpus on whatever
    * cadence the canonical refresh runs; the swap is staged, readers
    * never see a half-written manifest.
    *
    * `excludeContaminated` additionally anti-joins the INGEST-TIME
    * contamination drop list (StreamingContamination's log — leakage
    * against an external eval suite, caught at arrival): where
    * `decontaminate` protects the corpus's own held-out split, this
    * protects the suites the deployment registered with the gate. The
    * leak detection already happened per micro-batch; materialization
    * only pays a key-grain anti-join against the (small) drop list.
    *
    * Scale: all three gates are key-grain semi-/anti-joins; the
    * decontamination anti-join reuses the test-side Bloom memoized over
    * the live corpus's snapshot (documents + tombstones). A trainer
    * reads THIS table — the doc-grain manifest, not the summary — to
    * enumerate its shards. */
  /** `clusterCap` adds the DIVERSITY gate beside quality / canonical /
    * decontamination: at most `cap` manifest docs per IVF cell of the
    * service's quantizer epoch (t24's cluster-balanced pruning as a
    * maintained artifact — over-represented embedding modes clipped to
    * the same budget as rare ones before the token mix is cut). The
    * capped (cell, doc_id) sample persists at p.clusterSample and is
    * EPOCH STATE with reservoir semantics: the first capped refresh
    * ranks every assigned doc by the portable id hash (one-shot t24's
    * order, so manifest ≡ t13 ∩ t24 — spec-pinned); later refreshes
    * rank already-sampled docs FIRST, so within a quantizer epoch a
    * kept doc is never evicted by a newcomer — new docs only fill a
    * cell's remaining budget. A retrain deletes the sample (new cells
    * ⇒ resample). Like one-shot t24 the sample ranks ALL corpus docs,
    * not just gated ones — the cap bounds a cell's REPRESENTATION in
    * the corpus; gating then filters within it. */
  /** `splitAtClusterGrain` swaps the manifest's content-hash split for
    * t29's LEAKAGE-SAFE rule: the split bucket hashes the document's
    * canonical id from the MAINTAINED canonical corpus (no label
    * recompute), so a whole near-dup cluster lands in one split
    * atomically — the doc-grain hash co-splits verbatim copies only,
    * and a near-duplicate differing in one token otherwise straddles
    * train/test (PackSpec measures that leak nonzero on this corpus).
    * The decontamination audit keeps its own split definition — it
    * guards the corpus's held-out text, not the manifest's bucketing. */
  /** `dsirSelect` wires the IMPORTANCE gate (t38) into the maintained
    * chain: the manifest keeps only docs inside the maintained
    * selection's exact top-`keepPct`% cut ([[importanceSelectMaintained]]
    * — the accumulated score log under the CURRENT weight epoch, no
    * re-scoring). This is what completes t40's service twin: a pipeline
    * that curates with DSIR one-shot but serves a manifest without it
    * ships different training data than it validated. Requires weights
    * + a drained score log (run [[refreshImportanceScores]] first on
    * the cadence — [[runScheduled]] orders weights → scores → manifest
    * → pack); docs ingested since the last drain are not yet scored and
    * so not yet selected, the same freshness contract as every
    * maintained artifact. */
  def refreshTrainingSet(spark: SparkSession, p: Paths,
                         decontaminate: Boolean = false,
                         excludeContaminated: Boolean = false,
                         clusterCap: Option[Int] = None,
                         splitAtClusterGrain: Boolean = false,
                         dsirSelect: Boolean = false): Unit = {
    // The tombstone gate here is a safety net: a canonical artifact
    // refreshed AFTER the delete already excludes the docs; this keeps
    // the manifest correct even against a stale canonical.
    val kept = dropTombstoned(spark, p,
      canonicalCorpusView(spark, p)
        .filter(col("is_kept") === 1).select("doc_id"),
      "doc_id")
    val flat = graft.queries.Extensions.trainingManifest(spark, p.base, kept)
    val base =
      if (!splitAtClusterGrain) flat
      else flat.drop("split").join(
        graft.queries.Extensions.clusterSplitOf(
          flat.select("doc_id"),
          canonicalCorpusView(spark, p)
            .select(col("doc_id"), col("canonical_id").as("cluster_id")))
          .select("doc_id", "split"),
        Seq("doc_id"))
    // Decontamination evidence is the LIVE corpus, not the raw store:
    // the append-only document log keeps taken-down rows forever
    // (tombstones gate them), and a tombstoned test-bucket doc's grams
    // must not keep dropping train docs after the takedown. Distinct
    // bloom name from the one-shot's raw-store sketch — the gated gram
    // set is smaller, and a shared name would hand the one-shot caller
    // a sketch with false negatives (missed contamination).
    val decon =
      if (!decontaminate) base
      else base.join(
        graft.queries.Extensions.contaminatedTrainDocsOf(spark,
          "bloom#test8@live", Seq(p.docs, p.tombstones),
          dropTombstoned(spark, p,
            graft.Tables.t(spark, p.base, "documents")
              .select("doc_id", "text"),
            "doc_id")),
        Seq("doc_id"), "left_anti")
    val gated0 =
      if (!excludeContaminated) decon
      else decon.join(contaminationView(spark, p).select("doc_id"),
        Seq("doc_id"), "left_anti")
    val gated =
      if (!dsirSelect) gated0
      else gated0.join(
        importanceSelectMaintained(spark, p)
          .filter(col("keep") === 1).select("doc_id"),
        Seq("doc_id"), "left_semi")
    val manifest = clusterCap match {
      case None => gated
      case Some(cap) =>
        import org.apache.spark.sql.expressions.Window
        val E = graft.queries.Extensions
        val assigned = E.imiRank(
            E.quantizeFrame(graft.Tables.t(spark, p.base, "embeddings")),
            spark.read.parquet(p.cents), "vec_id", 1)
          .filter(col("rn") === 1)
          .select(col("vec_id").as("doc_id"), col("cent_id").as("cell"))
        val prevKept =
          if (hasData(spark, p.clusterSample))
            spark.read.parquet(p.clusterSample)
              .select(col("doc_id")).withColumn("was_kept", lit(1))
          else spark.range(0)
            .select(col("id").as("doc_id"), lit(1).as("was_kept"))
        val w = Window.partitionBy(col("cell"))
          .orderBy(col("wk").desc,
            graft.functions.Portable.h32(col("doc_id").cast("string")),
            col("doc_id"))
        val sampled = assigned
          .join(prevKept, Seq("doc_id"), "left")
          .withColumn("wk", coalesce(col("was_kept"), lit(0)))
          .withColumn("r", row_number().over(w))
          .filter(col("r") <= cap)
          .select("cell", "doc_id")
        graft.jobs.Warehouse.replaceReport(spark, sampled, p.clusterSample)
        gated.join(spark.read.parquet(p.clusterSample).select("doc_id"),
          Seq("doc_id"), "left_semi")
    }
    // Hive-partitioned by split: the manifest's dominant read is a
    // trainer enumerating ONE split (split=train at every epoch,
    // split=valid on eval ticks) — partition pruning turns that into a
    // directory-scoped listing instead of a full-manifest scan, the
    // same layout decision the daily logs and the ANN index make.
    graft.jobs.Warehouse.replaceVia(spark, p.trainingSet) { stage =>
      manifest.repartition(col("split"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("split").parquet(stage)
    }
    // The manifest is on disk — release the refresh's per-invocation
    // checkpoints (the DSIR gate's dsirKeepTop `scored` frame rides
    // this plan) so a scheduled service doesn't pin one per tick.
    graft.queries.Extensions.freeCkptFresh(manifest)
  }

  /** Read the maintained manifest (refreshTrainingSet's output).
    * Tombstone-gated like every served view: a takedown between delete
    * and the next refresh must not keep enumerating the doc (the
    * refresh's own gate then makes the exclusion durable). */
  def trainingSetView(spark: SparkSession, p: Paths): DataFrame =
    dropTombstoned(spark, p, spark.read.parquet(p.trainingSet), "doc_id")

  /** The maintained PACK MANIFEST (streamed t28/t30): sequence-packing
    * spans over the maintained manifest's TRAIN split — whatever gates
    * the deployment enabled (canonical keep, quality, decontamination,
    * cluster cap, cluster-grain split, delete tombstones) are already
    * baked into the manifest, so the packer composes with all of them
    * by construction; with the default gates it is one-shot t30
    * row-for-row (spec-pinned). Refresh AFTER refreshTrainingSet on
    * the training-handoff cadence; the swap is staged, a trainer never
    * sees a half-written manifest. Scale: the read partition-prunes to
    * split=train, and the only corpus-grain step is packSpans'
    * block-hierarchical prefix sum — no single-partition window. */
  /** `shardCount` adds t31's stable shard deal to the maintained packs
    * (the t40 composition's terminal column): each pack's shard depends
    * only on its own id and the count, so the column is a pure
    * projection — no extra shuffle, re-packs keep unchanged packs on
    * their shards. None (the default) preserves the un-sharded t30
    * shape. */
  def refreshPackManifest(spark: SparkSession, p: Paths,
                          subword: Boolean = false,
                          shardCount: Option[Int] = None): Unit = {
    val train = trainingSetView(spark, p).filter(col("split") === "train")
    // subword = pack in TOKENIZER truth (t35 as maintained state): span
    // arithmetic runs over the stored vocab's per-doc counts instead of
    // the manifest's whitespace counts — the units the trainer's
    // context window actually measures. Requires a tokenizer artifact;
    // runScheduled orders refreshTokenizer before the re-pack.
    val pd =
      if (subword)
        train.select("doc_id").join(
          tokenCounts(spark, p)
            .select(col("doc_id"), col("n_bpe_tokens").as("n_toks")),
          "doc_id")
      else train.select("doc_id", "n_toks")
    val spans = graft.queries.Extensions.packSpans(pd,
      graft.queries.Extensions.PackCap)
    val out = shardCount.fold(spans)(n => spans.withColumn("shard",
      graft.functions.Portable.h32(col("pack_id").cast("string")) % n))
    graft.jobs.Warehouse.replaceReport(spark, out, p.packManifest)
    graft.queries.Extensions.freeCkptFresh(out)
  }

  /** Retrain the maintained TOKENIZER over the live corpus (minus
    * tombstones — a takedown's text must stop shaping the vocab) and
    * staged-swap the merge-list artifact. Retrain-CLASS, but unlike the
    * quantizer a vocab epoch never invalidates anything: a FROZEN merge
    * list stays correct for serving (unseen words still tokenize), so
    * refresh tracks distribution drift only and nothing rebuilds.
    * Rides the maintenance cadence in [[runScheduled]]. */
  def refreshTokenizer(spark: SparkSession, p: Paths): Unit = {
    import spark.implicits._
    val corpus = dropTombstoned(spark, p,
      graft.Tables.t(spark, p.base, "documents"), "doc_id")
    val (merges, fin) = graft.queries.Extensions.bpeTrain(corpus)
    graft.queries.Extensions.freeCkpt(fin)
    graft.jobs.Warehouse.replaceReport(spark,
      merges.toDF("rank", "lhs", "rhs", "pair_count")
        .withColumn("merged", concat(col("lhs"), col("rhs")))
        .coalesce(1),
      p.bpeVocab)
    Seq(liveDocCount(spark, p)).toDF("trained_count")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(p.bpeVocabMeta)
  }

  private def liveDocCount(spark: SparkSession, p: Paths): Long =
    dropTombstoned(spark, p,
      graft.Tables.t(spark, p.base, "documents").select("doc_id"),
      "doc_id").count()

  /** The GROWTH-KEYED tokenizer refresh — what actually rides the
    * maintenance cadence. [[refreshTokenizer]]'s word agg re-reads the
    * whole corpus, so unconditionally retraining every tick is exactly
    * the recompute-per-invocation shape this engine exists to avoid; a
    * vocab only needs retraining when the distribution has had room to
    * move, and a FROZEN vocab stays correct meanwhile (unseen words
    * tokenize). Trains on first call; retrains when the live doc count
    * clears factor × the count at the last train (the quantizer's
    * grown() rule, with a lower default because a vocab drifts with
    * content, not just size); no-ops otherwise. Returns whether it
    * trained. */
  def maybeRefreshTokenizer(spark: SparkSession, p: Paths,
                            factor: Double = 1.25): Boolean = {
    val retrain =
      if (!hasData(spark, p.bpeVocab) || !hasData(spark, p.bpeVocabMeta)) true
      else {
        val trained = spark.read.parquet(p.bpeVocabMeta).head().getLong(0)
        trained > 0 && liveDocCount(spark, p) >= factor * trained
      }
    if (retrain) refreshTokenizer(spark, p)
    retrain
  }

  /** Per-document BPE token counts under the FROZEN stored vocab —
    * t33/t34's service twin and the unit every token-budget artifact
    * (training-set manifest, pack manifest) would consume in subword
    * truth rather than whitespace approximation. Reads the merge list
    * from [[refreshTokenizer]]'s artifact (never retrains on the read
    * path) and serves only live documents. Documents ingested AFTER the
    * last refresh are covered — the frozen merge list tokenizes unseen
    * words — which is exactly why the artifact stores merges, not a
    * word table. */
  def tokenCounts(spark: SparkSession, p: Paths): DataFrame = {
    require(hasData(spark, p.bpeVocab),
      s"corpus service: no tokenizer artifact at ${p.bpeVocab} — run " +
        "refreshTokenizer first (training is a maintenance event, not a " +
        "read-path side effect)")
    graft.queries.Extensions.bpeTokensUnder(
      dropTombstoned(spark, p,
        graft.Tables.t(spark, p.base, "documents"), "doc_id"),
      graft.queries.Extensions.bpeMergesAt(spark, p.bpeVocab))
  }

  /** Retrain the maintained DSIR importance WEIGHTS (t38 as service
    * state) over the live corpus — both the raw distribution and the
    * quality-gated target exclude tombstoned docs, so a takedown's text
    * stops shaping the selection pressure at the next retrain — and
    * staged-swap the ≤1024-row weight artifact. The tokenizer's
    * freeze contract applies verbatim: FROZEN weights score documents
    * ingested after the freeze (unseen buckets contribute the neutral
    * 0), so refresh tracks distribution drift only and nothing
    * rebuilds. Rides the maintenance cadence via
    * [[maybeRefreshDsirWeights]]. */
  def refreshDsirWeights(spark: SparkSession, p: Paths): Unit = {
    import spark.implicits._
    val E = graft.queries.Extensions
    // Epoch BEFORE the meta overwrite: the score log tags every row
    // with the epoch that scored it, so a retrain must mint a new one
    // (monotone counter — the trained count alone can move DOWN after
    // a takedown-driven retrain and would collide with an old epoch).
    val nextEpoch = 1L + (if (hasData(spark, p.dsirWeightsMeta))
      dsirEpoch(spark, p) else 0L)
    val corpus = dropTombstoned(spark, p,
      graft.Tables.t(spark, p.base, "documents"), "doc_id")
    graft.jobs.Warehouse.replaceReport(spark,
      E.dsirWeightsFrom(corpus, E.qualityOkDocs(corpus)).coalesce(1),
      p.dsirWeights)
    Seq((liveDocCount(spark, p), nextEpoch)).toDF("trained_count", "epoch")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(p.dsirWeightsMeta)
  }

  /** The current DSIR weight EPOCH (monotone per retrain; 0 for a
    * pre-epoch meta written before the score log existed — its next
    * retrain mints epoch 1). */
  private[graft] def dsirEpoch(spark: SparkSession, p: Paths): Long = {
    val m = spark.read.parquet(p.dsirWeightsMeta)
    if (m.columns.contains("epoch")) m.select("epoch").head().getLong(0)
    else 0L
  }

  /** The GROWTH-KEYED weight refresh ([[maybeRefreshTokenizer]]'s rule
    * verbatim): train on first call, retrain when the live corpus
    * clears factor× the trained count, no-op otherwise. Returns whether
    * it trained. */
  def maybeRefreshDsirWeights(spark: SparkSession, p: Paths,
                              factor: Double = 1.25): Boolean = {
    val retrain =
      if (!hasData(spark, p.dsirWeights) || !hasData(spark, p.dsirWeightsMeta))
        true
      else {
        val trained = spark.read.parquet(p.dsirWeightsMeta).head().getLong(0)
        trained > 0 && liveDocCount(spark, p) >= factor * trained
      }
    if (retrain) refreshDsirWeights(spark, p)
    retrain
  }

  /** Per-document importance scores under the FROZEN stored weights —
    * t38's serving path (the tokenCounts pattern: never retrains on
    * read, serves only live documents, covers post-freeze ingests). */
  def importanceScores(spark: SparkSession, p: Paths): DataFrame = {
    require(hasData(spark, p.dsirWeights),
      s"corpus service: no DSIR weight artifact at ${p.dsirWeights} — run " +
        "refreshDsirWeights first (training is a maintenance event, not " +
        "a read-path side effect)")
    graft.queries.Extensions.dsirScoresUnder(
      dropTombstoned(spark, p,
        graft.Tables.t(spark, p.base, "documents"), "doc_id"),
      spark.read.parquet(p.dsirWeights))
  }

  /** The served importance SELECTION: exact deterministic top-`keepPct`%
    * of the live corpus by frozen-weight score — what a data-mix
    * curator reads to cut the next training slice. */
  def importanceSelect(spark: SparkSession, p: Paths,
      keepPct: Long = graft.queries.Extensions.DsirKeepPct): DataFrame =
    graft.queries.Extensions.dsirKeepTop(
      importanceScores(spark, p), keepPct)

  /** SCORE-ON-INGEST: score the not-yet-scored documents under the
    * CURRENT frozen weight epoch and append them to the maintained
    * score log — t38's scoring as per-drain state, the
    * [[refreshLengthHistogram]] cadence applied to the selection
    * plane. The frozen-weights contract is what makes this EXACT:
    * a document's score depends only on its own bigrams and the
    * epoch's ≤1024-row weight table, so scores accumulated across
    * drains equal a one-shot [[importanceScores]] over the same
    * corpus row-for-row (DsirServiceSpec pins it across ≥2 drains).
    * Per-drain cost is O(batch) — one narrow gram map over just the
    * new docs + the broadcast weight join; the log never re-reads old
    * text. A retrain mints a new epoch: the next refresh re-scores
    * the whole live corpus under it (scores are per-doc values of the
    * epoch, not linear-sketch partials — subtraction cannot carry
    * them across weight tables), and stale-epoch rows stop being
    * read. Crash-replayed appends are absorbed by the view's distinct
    * (deterministic scoring — identical rows). */
  def refreshImportanceScores(spark: SparkSession, p: Paths): Unit = {
    require(hasData(spark, p.dsirWeights) && hasData(spark, p.dsirWeightsMeta),
      s"corpus service: no DSIR weight artifact at ${p.dsirWeights} — run " +
        "refreshDsirWeights first (training is a maintenance event, not " +
        "a read-path side effect)")
    val epoch = dsirEpoch(spark, p)
    // Tombstone-gated at SCORING time, not just at read: scores are
    // per-doc rows (not linear-sketch partials), so a tombstoned doc
    // never needs one — and gating here is what makes purge FINAL.
    // Ungated, the next drain after purgeTombstoned physically removed
    // a doc's (doc_id, n_bigrams, dsir_score_ppm) rows would re-read
    // the deleted text and re-append rows DERIVED from it, silently
    // un-doing the takedown until an unrelated future purge.
    val docsF = dropTombstoned(spark, p,
      graft.Tables.t(spark, p.base, "documents").select("doc_id", "text"),
      "doc_id")
    val batch =
      if (hasData(spark, p.dsirScoreLog))
        docsF.join(
          spark.read.parquet(p.dsirScoreLog)
            .filter(col("epoch") === epoch).select("doc_id"),
          Seq("doc_id"), "left_anti")
      else docsF
    if (batch.isEmpty) return
    val scored = graft.queries.Extensions.dsirScoresUnder(
      batch, spark.read.parquet(p.dsirWeights))
    // A ≤1-token doc has NO bigrams, so dsirScoresUnder emits no row
    // for it — without a marker it re-enters `batch` on every drain
    // forever (the left_anti never shrinks, batch.isEmpty never fires,
    // and each drain re-runs the gram map over the same short docs —
    // defeating the O(new-docs-only) per-drain cost on short-doc-heavy
    // corpora). Record it as (n_bigrams = 0, score NULL) in the same
    // atomic append; [[importanceScoresView]] filters markers out, so
    // the selection plane never sees a scoreless doc.
    val markers = batch.select("doc_id")
      .join(scored.select("doc_id"), Seq("doc_id"), "left_anti")
      .withColumn("n_bigrams", lit(0L))
      .withColumn("dsir_score_ppm", lit(null).cast("long"))
    scored.unionByName(markers)
      .withColumn("epoch", lit(epoch))
      .write.mode(SaveMode.Append).parquet(p.dsirScoreLog)
  }

  /** The accumulated importance scores at the CURRENT weight epoch —
    * the maintained twin of [[importanceScores]] (tombstone-gated,
    * stale epochs invisible, replayed appends collapsed). */
  def importanceScoresView(spark: SparkSession, p: Paths): DataFrame = {
    require(hasData(spark, p.dsirWeightsMeta),
      "corpus service: no DSIR weight artifact — nothing has scored yet")
    dropTombstoned(spark, p,
      spark.read.parquet(p.dsirScoreLog)
        .filter(col("epoch") === dsirEpoch(spark, p))
        // Zero-bigram MARKER rows (n_bigrams = 0) exist so the drain's
        // not-yet-scored set shrinks; they carry no score and must not
        // reach the selection plane.
        .filter(col("n_bigrams") > 0)
        .drop("epoch").distinct(),
      "doc_id")
  }

  /** [[importanceSelect]] off the MAINTAINED score log — the
    * storage-for-recompute swap applied to the selection verb: the
    * exact top-`keepPct`% cut runs over [[importanceScoresView]]'s
    * accumulated rows instead of re-scoring the live corpus, so the
    * per-call cost is the score-domain selection alone (no gram map,
    * no corpus scan). Current as of the last drain: docs ingested
    * since are not yet in the log (the next [[refreshImportanceScores]]
    * folds them in), which is the same freshness contract every other
    * maintained artifact carries. With the log drained-current,
    * ≡ [[importanceSelect]] row-for-row (DsirServiceSpec). */
  def importanceSelectMaintained(spark: SparkSession, p: Paths,
      keepPct: Long = graft.queries.Extensions.DsirKeepPct): DataFrame =
    graft.queries.Extensions.dsirKeepTop(
      importanceScoresView(spark, p), keepPct)

  /** Sketch the not-yet-sketched documents into the maintained CMS log —
    * t37's monitor as service state. CMS is a LINEAR sketch: each
    * drain's partial (j, b, c) table sums with the others to the
    * full-corpus sketch ROW-FOR-ROW (the identity BpeSpec's sibling,
    * CmsSpec, pins), so the per-drain cost is O(batch) and the merged
    * view never re-reads old text — the same stored-vs-recompute move
    * as s08/t27/t34, but for the monitoring plane. Exactly-once by
    * construction rather than by replay convergence: the partial sketch
    * rows and the batch's doc ids land in ONE append (kind-tagged rows
    * in one log), so a crashed refresh either committed both or
    * neither. Tombstones are NOT subtracted — the sketch is a
    * frequency MONITOR over everything ever ingested (CMS being linear,
    * a purge COULD append the negative partial; a takedown's obligation
    * is on the serving/training artifacts, which all gate). */
  /** Tokenize an EXTERNAL text frame ((doc_id, text) rows — a request,
    * a new shard, another table) under the service's FROZEN tokenizer
    * artifact — the request-path verb that makes the tokenizer a
    * service like [[hybridTopKFor]], not just a maintained corpus view:
    * one row per word occurrence with its position and subword array,
    * every word folded under the stored rank-ordered merges. Unseen
    * words tokenize fine (fewer merges apply — the frozen-merges
    * contract that makes vocab refresh drift-only), and the per-request
    * cost is |distinct words| folds + one broadcast join, never a
    * corpus touch. */
  def tokenize(spark: SparkSession, p: Paths, texts: DataFrame): DataFrame = {
    require(hasData(spark, p.bpeVocab),
      s"corpus service: no tokenizer artifact at ${p.bpeVocab} — run " +
        "refreshTokenizer first (training is a maintenance event, not a " +
        "read-path side effect)")
    graft.queries.Extensions.bpeTokenizeUnder(texts,
      graft.queries.Extensions.bpeMergesAt(spark, p.bpeVocab))
  }

  def refreshTokenSketch(spark: SparkSession, p: Paths): Unit = {
    val docsF = graft.Tables.t(spark, p.base, "documents")
      .select("doc_id", "text")
    val batch =
      if (hasData(spark, p.cmsLog))
        docsF.join(
          spark.read.parquet(p.cmsLog).filter(col("kind") === "seen")
            .select("doc_id"),
          Seq("doc_id"), "left_anti")
      else docsF
    if (batch.isEmpty) return
    val partial = graft.queries.Extensions.cmsSketchOf(batch)
      .select(lit("cms").as("kind"), lit(null).cast("long").as("doc_id"),
        col("j"), col("b"), col("c"))
    val seen = batch.select(lit("seen").as("kind"), col("doc_id"),
      lit(null).cast("int").as("j"), lit(null).cast("long").as("b"),
      lit(null).cast("long").as("c"))
    partial.unionByName(seen)
      .write.mode(SaveMode.Append).parquet(p.cmsLog)
  }

  /** Histogram the not-yet-histogrammed documents into the maintained
    * length-sketch log — t39's quantile sketch as service state, the
    * [[refreshTokenSketch]] pattern verbatim: the equi-width histogram
    * is a LINEAR sketch (per-(lang, bin) counts sum across disjoint
    * batches), so per-drain partials are O(batch) and the merged view
    * never re-reads old text; the partial rows and the batch's doc ids
    * ride ONE kind-tagged append (no crash window); deletions leave by
    * negative-partial subtraction at purge. */
  def refreshLengthHistogram(spark: SparkSession, p: Paths): Unit = {
    val docsF = graft.Tables.t(spark, p.base, "documents")
      .select("doc_id", "lang", "text")
    val batch =
      if (hasData(spark, p.histLog))
        docsF.join(
          spark.read.parquet(p.histLog).filter(col("kind") === "seen")
            .select("doc_id"),
          Seq("doc_id"), "left_anti")
      else docsF
    if (batch.isEmpty) return
    val partial = graft.queries.Extensions.histSketchOf(batch)
      .select(lit("hist").as("kind"), lit(null).cast("long").as("doc_id"),
        col("lang"), col("bin"), col("cnt"))
    val seen = batch.select(lit("seen").as("kind"), col("doc_id"),
      lit(null).cast("string").as("lang"), lit(null).cast("long").as("bin"),
      lit(null).cast("long").as("cnt"))
    partial.unionByName(seen)
      .write.mode(SaveMode.Append).parquet(p.histLog)
  }

  /** The merged full-corpus length histogram: sum of every drain's
    * partial — ≤1024 rows per language regardless of corpus size, with
    * purge-cancelled zero bins dropped (the [[tokenSketchView]]
    * contract). */
  def lengthHistogramView(spark: SparkSession, p: Paths): DataFrame =
    spark.read.parquet(p.histLog).filter(col("kind") === "hist")
      .groupBy("lang", "bin").agg(sum(col("cnt")).as("cnt"))
      .filter(col("cnt") =!= 0)

  /** Per-language p50/p90/p99 document-length estimates off the
    * MAINTAINED histogram — t39's serving path: never touches the
    * corpus, runs entirely at sketch grain. */
  def lengthQuantiles(spark: SparkSession, p: Paths): DataFrame =
    graft.queries.Extensions.quantilesOfHist(lengthHistogramView(spark, p))

  /** The merged full-corpus sketch: sum of every drain's partial — 4×256
    * rows at most, regardless of corpus size. Zero buckets are dropped:
    * a bucket fully cancelled by a purge's negative partial
    * ([[purgeTombstoned]]'s linear-sketch subtraction) is
    * indistinguishable from one never written, and both read as 0. */
  def tokenSketchView(spark: SparkSession, p: Paths): DataFrame =
    spark.read.parquet(p.cmsLog).filter(col("kind") === "cms")
      .groupBy("j", "b").agg(sum(col("c")).as("c"))
      .filter(col("c") =!= 0)

  /** Point-frequency estimates for requested tokens off the maintained
    * sketch — the CMS read path: never touches the corpus, min over the
    * 4 bucket rows, an empty bucket reads as 0 (a never-seen token can
    * estimate 0; estimates never undercount). */
  def tokenFreqEstimate(spark: SparkSession, p: Paths,
                        toks: Seq[String]): DataFrame = {
    import spark.implicits._
    val E = graft.queries.Extensions
    toks.toDF("tok")
      .select(col("tok"), explode(lit((0 until E.CmsDepth).toArray)).as("j"))
      .withColumn("b", E.cmsBucket(col("j"), col("tok")))
      .join(broadcast(tokenSketchView(spark, p)), Seq("j", "b"), "left")
      .groupBy("tok")
      .agg(min(coalesce(col("c"), lit(0L))).as("est_count"))
  }

  /** Read the maintained pack manifest ([[refreshPackManifest]]).
    * Tombstoned docs are gated OUT immediately — a takedown between
    * delete and the next re-pack must not keep serving the doc's spans,
    * so until the refresh the affected packs read short and the
    * trainer's loader pads the hole; the next refreshPackManifest
    * re-packs the stream with no holes (spec-pinned). */
  def packManifestView(spark: SparkSession, p: Paths): DataFrame =
    dropTombstoned(spark, p, spark.read.parquet(p.packManifest), "doc_id")

  /** The maintained SCRUBBED-CORPUS payload — the text a trainer
    * actually reads: t19's transform (boilerplate segments removed,
    * survivors reassembled in order) materialized for exactly the
    * manifest's documents, carried with their split and laid out like
    * the manifest (hive-partitioned by split, so a training pass reads
    * one directory). Boilerplate document-frequency is computed over
    * the FULL corpus, not the kept subset — a segment whose other
    * copies were dropped by dedup is still chrome, and restricting df
    * to survivors would let it escape the scrub. Refresh AFTER
    * refreshTrainingSet on whatever cadence text materialization runs
    * (it is the heaviest per-refresh artifact — one full-corpus
    * segment pass — so a deployment runs it on the training-handoff
    * cadence, not per drain); the swap is staged. */
  def refreshScrubbedCorpus(spark: SparkSession, p: Paths): Unit = {
    val manifest = trainingSetView(spark, p).select("doc_id", "split")
    // Storage-for-recompute swap, same as the ANN index and canonical:
    // when the incrementally maintained scrub table exists (the caller
    // runs maintainScrub per drain), the payload is a key join into it
    // — no segment pass at all; otherwise fall back to one-shot t19.
    val clean =
      if (hasData(spark, p.scrubLog))
        IncrementalScrub.scrubTable(spark, p.scrubLog)
      else graft.queries.Extensions.scrubbedCorpus(spark, p.base)
    val payload = clean.join(manifest, "doc_id")
    graft.jobs.Warehouse.replaceVia(spark, p.scrubbed) { stage =>
      payload.repartition(col("split"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("split").parquet(stage)
    }
  }

  /** One incremental scrub refresh (delta-grain: new docs + docs whose
    * segments crossed the boilerplate threshold — see
    * streaming.IncrementalScrub). Run per drain; returns the number of
    * documents (re)written. */
  def maintainScrub(spark: SparkSession, p: Paths): Long =
    IncrementalScrub.maintain(spark, p.base, p.scrubPostings, p.scrubLog,
      exclude = tombstonesOpt(spark, p))

  /** The maintained full-corpus scrub table (latest clean_text per
    * doc). */
  def scrubTableView(spark: SparkSession, p: Paths): DataFrame =
    dropTombstoned(spark, p,
      IncrementalScrub.scrubTable(spark, p.scrubLog), "doc_id")

  /** One incremental novelty refresh (delta-grain: only not-yet-scored
    * docs probe the maintained first-seen table — see
    * streaming.NoveltyTable). Run per drain; returns newly scored docs. */
  def maintainNovelty(spark: SparkSession, p: Paths): Long =
    NoveltyTable.maintain(spark, p.base, p.noveltyFirstSeen, p.noveltyLog,
      exclude = tombstonesOpt(spark, p))

  /** The maintained per-doc novelty table (t21's schema; empty-safe;
    * tombstoned docs excluded). The saturation monitor a deployment
    * plots: novelty_ppm vs doc_id. */
  def noveltyReport(spark: SparkSession, p: Paths): DataFrame =
    dropTombstoned(spark, p,
      NoveltyTable.noveltyView(spark, p.noveltyLog), "doc_id")

  /** One incremental chunk-table refresh (delta-grain: only
    * not-yet-chunked docs are tokenized — see streaming.ChunkTable).
    * Run per drain; returns newly chunked docs. */
  def maintainChunks(spark: SparkSession, p: Paths): Long =
    ChunkTable.maintain(spark, p.base, p.chunkLog,
      exclude = tombstonesOpt(spark, p))

  /** One incremental posting-table refresh (delta-grain: only
    * not-yet-posted docs are tokenized — see streaming.PostingTable).
    * Run per drain; returns newly posted docs. */
  def maintainPostings(spark: SparkSession, p: Paths): Long =
    PostingTable.maintain(spark, p.base, p.postings,
      exclude = tombstonesOpt(spark, p))

  /** The maintained posting table (empty-safe; tombstoned docs
    * excluded). */
  def postingTableView(spark: SparkSession, p: Paths): DataFrame =
    dropTombstoned(spark, p,
      PostingTable.postingView(spark, p.postings), "doc_id")

  /** HYBRID retrieval served off MAINTAINED state — the request path of
    * modern search (s16's shape, deployable): for each (vec_id, text,
    * embedding) query row, the lexical ranker scores integer tf·idf
    * against the maintained posting table (one posting join at query
    * grain — cost Σ_{t ∈ q} df(t), hot tokens dropped by `dfCapPpm`,
    * default 90% of the corpus: the guard targets stop-word-grade
    * df ≈ N tokens, the lexical twin of d03's pathological mega-bucket,
    * not merely-common terms — this fixture corpus's 31-token synthetic
    * vocabulary has 30 tokens above N/2 and none above 0.9·N, which is
    * exactly the regime distinction), the vector ranker takes its top-20
    * through the stored ANN index (partition-pruned cells, prefix
    * candidates, exact rerank — annIvfIndexedQueries at k=20), and the
    * two rank lists fuse by RRF (shared Extensions.rrfFuse — fusion can
    * never drift from one-shot s16). Queries are EXTERNAL rows: no
    * corpus tokenization, no corpus vector scan happens at request time;
    * both rankers read maintained artifacts plus key-join fetches.
    *
    * `excludeSelf` is the corpus-parity dial (the annIvfIndexedQueries
    * contract): on for benchmark-style corpus queries, off for external
    * ids. `vectorExact` picks the vector ranker: false (default, the
    * scale path) takes top-20 through the stored index and inherits
    * s07's cell-probe recall — RRF consumes only ranks, so the ANN dial
    * drops in; true runs s01's exact scan over the stored embeddings
    * table, bit-identical to one-shot s16's ranker. PostingSpec pins
    * the exact form ≡ one-shot s16 row-for-row after arbitrary wave
    * partitions (which also pins "top-20 unchanged at the default df
    * cap" on this corpus), an overlap floor for the indexed form, and
    * an external-query case ranking a planted twin first. */
  def hybridTopKFor(spark: SparkSession, p: Paths, queries: DataFrame,
                    excludeSelf: Boolean = false,
                    dfCapPpm: Long = 900000L,
                    vectorExact: Boolean = false,
                    bm25: Boolean = false,
                    diversify: Boolean = false,
                    nprobe: Int = graft.queries.Extensions.DefaultNprobe)
      : DataFrame = {
    // Tombstoned docs leave both rankers here: their posting rows drop
    // (df and the doc count follow — exactly the rebuild-without
    // corpus's statistics), and the vector side filters them below.
    val tf = dropTombstoned(spark, p,
      PostingTable.postingView(spark, p.postings), "doc_id")
    val nn = dropTombstoned(spark, p,
        graft.Tables.t(spark, p.base, "documents").select("doc_id"), "doc_id")
      .agg(count(lit(1)).as("n_docs"))
    val qtoks = queries
      .select(col("vec_id").as("query_id"),
        explode(split(col("text"), " ")).as("tok"))
      .distinct()
    // `bm25` swaps the lexical ranker for s19's saturated/length-
    // normalized scoring — served off the SAME posting log (doc
    // lengths and totals derive from Σ tf, no corpus re-tokenization).
    // RRF consumes only ranks, so the swap composes with every other
    // dial unchanged.
    val lex =
      if (bm25)
        graft.queries.Extensions.bm25Rank(qtoks, tf, dfCapPpm,
            excludeSelf, k = 20)
          .select(col("query_id"), col("neighbor_id"),
            col("rank").as("rank_l"))
      else graft.queries.Extensions.lexicalRank(qtoks, tf, nn,
        dfCapPpm, excludeSelf)
    val vec =
      if (vectorExact)
        graft.queries.Extensions.vecRankExact(
          graft.queries.Extensions.quantizeFrame(
            dropTombstoned(spark, p,
              graft.Tables.t(spark, p.base, "embeddings"), "vec_id")),
          graft.queries.Extensions.quantizeFrame(
            queries.select("vec_id", "embedding")),
          excludeSelf, k = 20)
      else graft.queries.Extensions.annIvfIndexedQueries(spark, p.base,
          queries.select("vec_id", "embedding"), p.annIndex, excludeSelf,
          k = 20, dropIds = tombstoneIds(spark, p), nprobe = nprobe)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("rank_v"))
    val fused = graft.queries.Extensions.rrfFuse(vec, lex)
    // `diversify` threads the fused top-10 through the MMR greedy core
    // (s22's re-ranker on the request path): rel is the RRF score,
    // candidate-internal similarity is exact cosine over the stored
    // embeddings (key-join fetch at pool grain), and the returned
    // `rank` is the MMR pick order — same schema, diversified order.
    // Re-ranking cost is independent of corpus size (mmrSelect's
    // contract); checkpoints are freed inside the core.
    if (!diversify) fused
    else {
      val E = graft.queries.Extensions
      val eq = E.quantizeFrame(graft.Tables.t(spark, p.base, "embeddings"))
      E.mmrSelect(
          fused.select(col("query_id"), col("neighbor_id").as("cand"),
            col("rrf_ppm").as("rel")),
          pool => E.poolSimsFrom(pool, eq))
        .select(col("query_id"), col("cand").as("neighbor_id"),
          col("rel").as("rrf_ppm"), col("mmr_rank").as("rank"))
    }
  }

  /** MMR-DIVERSIFIED vector retrieval for external queries — s22 as a
    * request-path dial off maintained state: the candidate pool is the
    * top-20 per query from the vector ranker (`vectorExact` = true runs
    * s01's exact scan over the stored embeddings — bit-identical to
    * one-shot s22's pool, which is what lets CorpusServiceSpec pin the
    * served form ≡ one-shot s22 row-for-row; false, the scale path,
    * takes the pool through the stored ANN index and inherits the
    * cell-probe family's recall), pool-internal similarities are exact
    * cosine by key join into the stored embeddings, and the greedy core
    * (Extensions.mmrSelect — the SAME code path as one-shot s22, so the
    * two can never drift) picks `k` items maximizing
    * 7·relevance − 3·max-sim-to-selected. `excludeSelf` is the
    * corpus-parity dial (the annIvfIndexedQueries contract). */
  def diversifiedTopKFor(spark: SparkSession, p: Paths, queries: DataFrame,
                         excludeSelf: Boolean = false,
                         vectorExact: Boolean = false,
                         k: Int = 5): DataFrame = {
    val E = graft.queries.Extensions
    val eq = E.quantizeFrame(
      dropTombstoned(spark, p,
        graft.Tables.t(spark, p.base, "embeddings"), "vec_id"))
    val pool =
      if (vectorExact)
        E.vecRankExact(eq,
            E.quantizeFrame(queries.select("vec_id", "embedding")),
            excludeSelf, k = 20)
          .select(col("query_id"), col("neighbor_id").as("cand"),
            col("cos_ppm").as("rel"))
      else E.annIvfIndexedQueries(spark, p.base,
          queries.select("vec_id", "embedding"), p.annIndex, excludeSelf,
          k = 20, dropIds = tombstoneIds(spark, p))
        .select(col("query_id"), col("neighbor_id").as("cand"),
          col("cos_ppm").as("rel"))
    E.mmrSelect(pool, pl => E.poolSimsFrom(pl, eq), k)
      .select(col("query_id"), col("cand").as("neighbor_id"),
        col("rel").as("cos_ppm"), col("mmr_rank"))
  }

  /** The maintained retrieval-grain chunk table (t25's schema;
    * empty-safe) — the embedding job's input, paid once per doc. */
  def chunkTableView(spark: SparkSession, p: Paths): DataFrame =
    dropTombstoned(spark, p, ChunkTable.chunkView(spark, p.chunkLog),
      "doc_id")

  /** Chunk-grain dedup (d15's rollup) over the maintained chunk log:
    * the redundant-vector drop list a RAG corpus applies before
    * encoding. */
  def chunkDupesReport(spark: SparkSession, p: Paths): DataFrame =
    ChunkTable.dupesView(spark, p.chunkLog)

  /** One incremental chunk-EMBEDDING refresh (delta-grain: only
    * not-yet-embedded chunks — the embedding job's per-wave cost).
    * Run post-drain after [[maintainChunks]]; returns newly embedded
    * chunks. */
  def maintainChunkVectors(spark: SparkSession, p: Paths): Long =
    ChunkTable.maintainVectors(spark, p.chunkLog, p.chunkVecs)

  /** One incremental chunk-POSTING refresh (doc-grain discovery,
    * tombstone-gated). Run post-drain beside [[maintainChunks]] when
    * the deployment serves chunk-hybrid retrieval. */
  def maintainChunkPostings(spark: SparkSession, p: Paths): Long =
    ChunkTable.maintainPostings(spark, p.base, p.chunkPostings,
      exclude = tombstonesOpt(spark, p))

  /** CHUNK-grain HYBRID retrieval for external TEXT queries — s23 as
    * the request path (the late-interaction fusion a RAG stack runs):
    * each (vec_id, text) query is chunked and embedded with the
    * corpus's own derivation, its chunk vectors rank corpus CHUNKS by
    * best-match-over-query-chunks (`vectorExact` = true scans the
    * chunk-vector table — bit-identical to one-shot s23's ranker, the
    * row-for-row spec pin; false, the scale path, probes the stored
    * chunk index and inherits cell-probe recall), the query's token
    * set ranks the same chunks through s19's BM25 over the MAINTAINED
    * chunk-posting log, and the two top-20s fuse by RRF. Output is
    * top-10 CHUNKS per query (query_id, neighbor_id = packed chunk id,
    * rrf_ppm, rank) — the passage list a reader model consumes;
    * `neighbor_id div 4096` recovers the document. Lexical recovers
    * verbatim phrases whose embeddings blur (ChunkHybridSpec plants
    * exactly that); vectors recover paraphrases sharing no tokens.
    * `excludeSelf` drops the query doc's own chunks (corpus-parity
    * queries). Tombstoned docs leave both rankers. */
  def chunkHybridTopKFor(spark: SparkSession, p: Paths, queries: DataFrame,
                         excludeSelf: Boolean = false,
                         vectorExact: Boolean = false): DataFrame = {
    val E = graft.queries.Extensions
    val qch = E.chunkVectorsOf(
        E.chunksOfDocs(queries.select(col("vec_id").as("doc_id"), col("text"))))
      .select(col("doc_id").as("query_id"), col("vec_id"), col("q"), col("s2"))
    val corpus0 = chunkVectorTable(spark, p).select("vec_id", "doc_id", "q", "s2")
    val corpus = tombstonesOpt(spark, p).fold(corpus0)(t =>
      corpus0.join(t, Seq("doc_id"), "left_anti"))
    val vec =
      if (vectorExact)
        E.chunkVecRank(corpus,
          qch.select(col("query_id"), col("q"), col("s2")), excludeSelf)
      else {
        val chunkTomb = tombstonesOpt(spark, p).map { t =>
          spark.read.parquet(p.chunkIndex).select(col("vec_id")).distinct()
            .withColumn("__doc", shiftright(col("vec_id"), 12))
            .join(t.select(col("doc_id").as("__doc")), Seq("__doc"))
            .select("vec_id")
        }
        val served = E.annIvfIndexedOver(spark,
          corpus.select("vec_id", "q", "s2"),
          qch.select("vec_id", "q", "s2"), p.chunkIndex,
          excludeSelf = false, k = 100, dropIds = chunkTomb)
        val rolled = served
          .select(shiftright(col("query_id"), 12).as("query_id"),
            col("neighbor_id"), col("cos_ppm"))
        (if (excludeSelf)
           rolled.filter(shiftright(col("neighbor_id"), 12) =!= col("query_id"))
         else rolled)
          .groupBy("query_id", "neighbor_id")
          .agg(max(col("cos_ppm")).as("best_cos_ppm"))
          .withColumn("rank_v", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("query_id"))
              .orderBy(col("best_cos_ppm").desc, col("neighbor_id").asc)))
          .filter(col("rank_v") <= 20)
          .select("query_id", "neighbor_id", "rank_v")
      }
    val qtoks = queries
      .select(col("vec_id").as("query_id"),
        explode(split(col("text"), " ")).as("tok"))
      .distinct()
    val ctf = dropTombstonedChunks(spark, p,
      ChunkTable.postingView(spark, p.chunkPostings))
    val lex = E.bm25Rank(qtoks, ctf, excludeSelf = excludeSelf, k = 20,
        selfOf = shiftright(_, 12))
      .select(col("query_id"), col("neighbor_id"), col("rank").as("rank_l"))
    E.rrfFuse(vec, lex)
  }

  /** Anti-join a packed-chunk-id frame (`doc_id` column carries the
    * packed id) against the tombstones at DOC grain. */
  private def dropTombstonedChunks(spark: SparkSession, p: Paths,
                                   df: DataFrame): DataFrame =
    tombstonesOpt(spark, p).fold(df)(t =>
      df.withColumn("__doc", shiftright(col("doc_id"), 12))
        .join(t.select(col("doc_id").as("__doc")), Seq("__doc"), "left_anti")
        .drop("__doc"))

  /** ONE-TIME chunk-tiling migration at service grain (see
    * ChunkTable.rechunk): rebuilds the maintained chunk log's existing
    * docs under the current tiling, drops orphaned chunk vectors, and
    * REBUILDS the chunk index (tiling changes are retrain-class for the
    * index — its rows key by the packed chunk id). Run quiesced, once,
    * after upgrading across a chunk-definition change. */
  def rechunkCorpus(spark: SparkSession, p: Paths): Unit = {
    ChunkTable.rechunk(spark, p.base, p.chunkLog, Some(p.chunkVecs),
      exclude = tombstonesOpt(spark, p))
    if (hasData(spark, p.chunkIndex)) {
      val idxPath = new org.apache.hadoop.fs.Path(p.chunkIndex)
      idxPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(idxPath, true)
      refreshChunkIndex(spark, p)
    }
    // The chunk-posting log keys by the packed chunk id, so a tiling
    // change invalidates it the same way: rebuild its already-posted
    // docs under the current derivation (staged swap).
    if (hasData(spark, p.chunkPostings)) {
      val posted = ChunkTable.postingView(spark, p.chunkPostings)
        .select(shiftright(col("doc_id"), 12).as("doc_id")).distinct()
      val docs = tombstonesOpt(spark, p).foldLeft(
          graft.Tables.t(spark, p.base, "documents")
            .select("doc_id", "text"))(
          (d, x) => d.join(x.select("doc_id"), Seq("doc_id"), "left_anti"))
        .join(posted, Seq("doc_id"), "left_semi")
      graft.jobs.Warehouse.replaceReport(spark,
        graft.queries.Extensions.chunkTokens(docs), p.chunkPostings)
    }
  }

  /** The maintained chunk-vector frame: the STORED embedding table
    * when the embedding job maintains one ([[maintainChunkVectors]] —
    * the artifact serving reads at scale, where vectors are model
    * outputs that cannot be recomputed as a map), else the
    * deterministic derivation over the chunk log (the test fixtures'
    * stand-in, identical row-for-row — spec-pinned). */
  def chunkVectorTable(spark: SparkSession, p: Paths): DataFrame =
    if (hasData(spark, p.chunkVecs)) ChunkTable.vecView(spark, p.chunkVecs)
    else graft.queries.Extensions.chunkVectorsOf(
      ChunkTable.chunkView(spark, p.chunkLog))

  /** Maintain the CHUNK-grain serving index over the maintained chunk
    * log — s18's scale path as a service artifact (RAG retrieval is
    * chunk retrieval; the doc-grain index cannot serve it). First call
    * BUILDS under a quantizer trained on the chunk vectors themselves
    * (the hash-sampled √n rule at frame grain — chunk vectors live in
    * their own hash-derived space, so the DOC quantizer's cells mean
    * nothing here); later calls APPEND only not-yet-indexed chunk
    * vectors under the frozen sidecar epochs (cells + SQ8 ranges —
    * appendAnnIndexFrom's contract). Epoch semantics are inherited
    * verbatim: to retrain, delete the index dir and refresh (a
    * rebuild-class event, exactly like retrainQuantizer's rebuild).
    * Run post-drain after [[maintainChunks]]. */
  def refreshChunkIndex(spark: SparkSession, p: Paths): Unit = {
    // Deletions gate the chunk-vector frame at its packed doc id, on
    // both the build and append paths (the vector store may not have
    // been purged yet when the index refreshes).
    val cv0 = chunkVectorTable(spark, p).select("vec_id", "q", "s2")
    val cv = tombstonesOpt(spark, p).fold(cv0)(t =>
      cv0.withColumn("__doc", expr("CAST(vec_id div 4096 AS BIGINT)"))
        .join(t.select(col("doc_id").as("__doc")), Seq("__doc"), "left_anti")
        .drop("__doc"))
    if (!hasData(spark, p.chunkIndex)) {
      val cents = graft.queries.Extensions.codebooksFrom(cv, cv.count())
      graft.jobs.Warehouse.replaceVia(spark, p.chunkIndex) { stage =>
        graft.queries.Extensions.buildAnnIndexFrom(cv, cents, stage)
      }
    } else {
      val newQ = cv.join(
        spark.read.parquet(p.chunkIndex).select("vec_id"),
        Seq("vec_id"), "left_anti")
      graft.queries.Extensions.appendAnnIndexFrom(spark, p.chunkIndex, newQ)
    }
  }

  /** CHUNK retrieval for external TEXT queries with doc-level rollup —
    * the RAG request path end-to-end off maintained state: each
    * (vec_id, text) query is chunked and embedded with the corpus's
    * own derivation (chunksOfDocs + chunkVectorsOf — a query matching
    * a corpus passage verbatim gets that chunk's exact vector), its
    * chunk vectors probe the stored chunk index (partition-pruned
    * cells, prefix candidates, exact rerank against the derived
    * chunk-vector frame), and candidate documents rank by their
    * best-matching chunk (s18's MaxSim rollup), top-`k` docs per
    * query. `excludeSelf` drops same-DOC hits for corpus-parity
    * queries (s18's semantics: a doc never retrieves itself).
    * Serving recall is the cell-probe family's, pinned by overlap
    * floor against one-shot s18 (CorpusServiceSpec), with exact-twin
    * queries guaranteed: an identical passage hashes to the identical
    * vector, lands in the probed cell, and scores 1e6. */
  def chunkTopKFor(spark: SparkSession, p: Paths, queries: DataFrame,
                   excludeSelf: Boolean = false, k: Int = 5,
                   diversify: Boolean = false,
                   pq: Boolean = false): DataFrame = {
    val E = graft.queries.Extensions
    val qv = E.chunkVectorsOf(
        E.chunksOfDocs(queries.select(col("vec_id").as("doc_id"), col("text"))))
      .select(col("vec_id"), col("q"), col("s2"))
    val corpus = chunkVectorTable(spark, p).select("vec_id", "q", "s2")
    // Chunk-grain tombstones: the index's own rows whose packed doc id
    // (vec_id div 4096) is deleted — derived from the index read so the
    // filter stays correct whether or not the chunk log was purged yet.
    val chunkTomb = tombstonesOpt(spark, p).map { t =>
      spark.read.parquet(p.chunkIndex).select("vec_id").distinct()
        .withColumn("__doc", expr("CAST(vec_id div 4096 AS BIGINT)"))
        .join(t.select(col("doc_id").as("__doc")), Seq("__doc"))
        .select("vec_id")
    }
    // `pq` swaps the coarse pass to the index-resident PQ codes (s21
    // at RAG grain — 4 bytes per chunk vector instead of the 32-dim
    // prefix, the storage shape a 100 TB chunk store needs): probes
    // prune cells, the broadcast ADC lookup table scores candidates,
    // the exact rerank and MaxSim rollup are unchanged. Recall is the
    // PQ family's (exact-twin queries still guaranteed: an identical
    // passage lands in the probed cell and wins the rerank at 1e6).
    val served =
      if (pq) E.annIvfPqIndexedOver(spark, corpus, qv, p.chunkIndex,
        excludeSelf = false, k = 100, dropIds = chunkTomb)
      else E.annIvfIndexedOver(spark, corpus, qv, p.chunkIndex,
        excludeSelf = false, k = 100, dropIds = chunkTomb)
    val rolled = served
      .select(expr("query_id div 4096").as("query_id"),
        expr("neighbor_id div 4096").as("neighbor_id"),
        col("cos_ppm"))
    val docScores = (if (excludeSelf)
        rolled.filter(col("neighbor_id") =!= col("query_id"))
      else rolled)
      .groupBy("query_id", "neighbor_id")
      .agg(max(col("cos_ppm")).as("max_cos_ppm"))
      .withColumn("rank", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("max_cos_ppm").desc, col("neighbor_id").asc)))
    // `diversify` re-ranks the rolled DOC list through the MMR greedy
    // core (s22 on the RAG path): the pool is the top-20 docs by
    // MaxSim, candidate-internal similarity is exact DOC-grain cosine
    // over the stored embeddings store (vec_id ≡ doc_id — requires the
    // service to maintain one), and the returned `rank` is the MMR pick
    // order. Same schema, diversified order — a query matching five
    // near-identical passages surfaces distinct documents instead.
    //
    // Relevance enters the core RANK-COMPRESSED (the reciprocal
    // 1e6 // (60 + rank), exactly what RRF feeds the hybrid dial): raw
    // cosines saturate toward 1e6 at the head of a RAG ranking, where
    // 7·rel − 3·maxsim can never let the diversity term bind (two exact
    // copies score 7e6 − 3e6 = 4e6, above any honest rival) — the
    // re-ranker's relevance scale must be commensurate with the λ
    // split, and ranks are the scale MMR's pool contract already
    // assumes retrievers agree on.
    if (!diversify)
      docScores.filter(col("rank") <= k)
        .select("query_id", "neighbor_id", "max_cos_ppm", "rank")
    else {
      val eq = E.quantizeFrame(graft.Tables.t(spark, p.base, "embeddings"))
      val pool = docScores.filter(col("rank") <= 20)
        .select(col("query_id"), col("neighbor_id").as("cand"),
          expr("CAST(1000000 AS BIGINT) div CAST(60 + rank AS BIGINT)")
            .as("rel"),
          col("max_cos_ppm"))
      E.mmrSelect(pool.select("query_id", "cand", "rel"),
          pl => E.poolSimsFrom(pl, eq), k)
        .join(pool.select("query_id", "cand", "max_cos_ppm"),
          Seq("query_id", "cand"))
        .select(col("query_id"), col("cand").as("neighbor_id"),
          col("max_cos_ppm"), col("mmr_rank").as("rank"))
    }
  }

  /** Hard-negative mining off the MAINTAINED index — t26's service twin
    * (the s05→s09 storage-for-recompute move, closed for the mining
    * operator): candidates come from the stored index's thin
    * (cell, vec_id) membership rows instead of a per-invocation
    * corpus-wide assignment; exact cosine keeps the below-near-dup band,
    * both directions, top-3 hardest-first per doc — the contrastive
    * training pairs a finetune pipeline exports each refresh. Run in
    * any window after [[refreshAnnIndex]]; the report is as-of the
    * index's last append (not-yet-indexed docs mine nothing until the
    * next refresh, the same as-of contract as every served artifact).
    * Tombstone-gated on BOTH sides of every pair: a deleted doc appears
    * neither as anchor nor as negative from the moment of the delete —
    * a training-pair export that kept serving takedown content until
    * the purge would violate [[deleteDocs]]'s contract. */
  def hardNegativesReport(spark: SparkSession, p: Paths): DataFrame =
    graft.queries.Extensions.hardNegativesAt(spark, p.base, p.annIndex,
      dropIds = tombstoneIds(spark, p))

  /** The per-source curation report (t23's rollup) over the MAINTAINED
    * novelty log — the acquisition-decision view ("which crawl source
    * still pays for its tokens") kept current by the drain loop. The
    * expensive signal (first-seen novelty) is already delta-maintained
    * by [[maintainNovelty]]; this rollup joins the doc-grain log
    * (4 ints/doc) to one projection-pruned corpus scan for (source,
    * lang, token count) and regroups to |sources| rows. Requires the
    * ingested documents to carry a `source` column (crawl provenance —
    * the grain the report decides over); docs not yet scored by a
    * drain are excluded, so the report is as-of the last refresh.
    * Same arithmetic as one-shot t23 (shared Extensions.sourceRollup);
    * under id-ordered arrival the two are row-identical, under any
    * arrival order the volume columns still match exactly and Σ
    * n_novel is conserved (CorpusServiceSpec). */
  def sourceStatsReport(spark: SparkSession, p: Paths): DataFrame = {
    val d = graft.Tables.t(spark, p.base, "documents")
      .select(col("doc_id"), col("source"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    graft.queries.Extensions.sourceRollup(d, noveltyReport(spark, p))
  }

  /** Read the maintained scrubbed payload (refreshScrubbedCorpus's
    * output). Tombstone-gated like every other served view — the
    * scrubbed store carries full clean_text, the MOST sensitive payload
    * the service holds, so a deleted doc must drop out of this view at
    * delete time, not at the next refresh. */
  def scrubbedCorpusView(spark: SparkSession, p: Paths): DataFrame =
    dropTombstoned(spark, p, spark.read.parquet(p.scrubbed), "doc_id")

  /** The live ingest queries of an always-on corpus service (the
    * fingerprint stream only when started with the media modality on). */
  final case class Running(
      docs: org.apache.spark.sql.streaming.StreamingQuery,
      embeddings: org.apache.spark.sql.streaming.StreamingQuery,
      fingerprint: Option[org.apache.spark.sql.streaming.StreamingQuery] =
        None) {
    /** Graceful shutdown: drain whatever the stores already hold, then
      * stop — same per-stream discipline as jobs.Main.runService (a
      * failed stream's rethrow must not mask another's shutdown), and
      * the checkpoints resume exactly-once on the next start. */
    def drainAndStop(): Unit =
      try {
        try docs.processAllAvailable()
        finally docs.stop()
      } finally {
        try {
          try embeddings.processAllAvailable()
          finally embeddings.stop()
        } finally fingerprint.foreach { f =>
          try f.processAllAvailable()
          finally f.stop()
        }
      }
  }

  /** ALWAYS-ON form: both dedup ingesters live on a processing-time
    * trigger — every `interval`, files appended to either store since
    * the last trigger become that side's micro-batch. The caller owns
    * the lifecycle (`Running.drainAndStop`).
    *
    * Compaction is NOT safe against live triggers here — use
    * [[compactQuiesced]]. The staged-swap guard narrows the race to one
    * filesystem round-trip but cannot close it (guardedRewrite's
    * documented residual window): an ingester appending to the
    * ASSIGNMENT log between the re-fingerprint and the rename would be
    * silently lost — and unlike a dropped pair row (re-discoverable),
    * a dropped assignment permanently costs every FUTURE pair that cell
    * membership would have caught. The delete+rename swap can also
    * leave a mid-planning micro-batch read (assignTable / pairsView)
    * staring at a missing directory. jobs.Main.runService accepts the
    * same race on its streamed DAILY logs deliberately — those rows are
    * idempotently re-derivable from the source log; the dedup state
    * tables are not. */
  def start(spark: SparkSession, p: Paths,
            interval: String = "5 minutes",
            fingerprint: Boolean = false): Running = {
    import org.apache.spark.sql.streaming.Trigger
    Running(
      docs = StreamingDedup.start(spark, p.docs, p.sigs, p.pairs, p.docsCkpt,
        Trigger.ProcessingTime(interval)),
      embeddings = StreamingSemanticDedup.start(spark, p.embeddings, p.cents,
        p.assigns, p.semPairs, p.embCkpt, Trigger.ProcessingTime(interval)),
      fingerprint =
        if (!fingerprint) None
        else Some(StreamingFingerprint.start(spark, p.docs, p.fpSigs,
          p.fpPairs, p.fpCkpt, Trigger.ProcessingTime(interval))))
  }

  /** Compaction point for the always-on form: quiesce both ingesters
    * (drain + stop), compact every dedup log — with no live writer the
    * guarded swaps must land, so failures are `require`d loud — and
    * restart on the same checkpoints. Periodic compaction of an
    * always-on service = periodic calls of this, at whatever cadence
    * the log file counts warrant (cf. runScheduled's compactEvery). */
  def compactQuiesced(spark: SparkSession, p: Paths, r: Running,
                      interval: String = "5 minutes"): Running = {
    r.drainAndStop()
    require(StreamingDedup.compactLogs(spark, p.sigs, p.pairs),
      "corpus service: shingle dedup logs failed to compact while quiesced")
    require(StreamingSemanticDedup.compactLogs(spark, p.assigns, p.semPairs),
      "corpus service: semantic dedup logs failed to compact while quiesced")
    // The maintained index grows files with every per-drain append the
    // same way the logs grow with every micro-batch; the quiesced
    // window is its compaction point too (no refresh can race here —
    // both come only from this driver's lifecycle calls).
    if (hasData(spark, p.annIndex))
      require(graft.queries.Extensions.tryCompactAnnIndex(spark, p.annIndex),
        "corpus service: ann index failed to compact while quiesced")
    // Likewise the incremental scrub's postings + versioned log, when a
    // caller maintains them alongside the always-on form.
    if (hasData(spark, p.scrubLog))
      require(IncrementalScrub.compactLogs(spark, p.scrubPostings, p.scrubLog),
        "corpus service: scrub logs failed to compact while quiesced")
    if (r.fingerprint.isDefined || hasData(spark, p.fpPairs))
      require(StreamingFingerprint.compactLogs(spark, p.fpSigs, p.fpPairs),
        "corpus service: fingerprint logs failed to compact while quiesced")
    start(spark, p, interval, fingerprint = r.fingerprint.isDefined)
  }

  /** Bounded transient-failure retry (the reference's per-task
    * retries=1 / retry_delay=30 s posture, track_delta.py:612-613, as a
    * dial): re-attempt `body` up to `retries` extra times, `backoff`
    * apart (through the injectable sleep so tests don't wall-clock
    * wait), logging each retried failure; the FINAL failure always
    * propagates — bounded retry never turns into silent skip. */
  private[graft] def withRetries[A](retries: Int,
                                    backoff: java.time.Duration,
                                    sleep: java.time.Duration => Unit,
                                    what: String)(body: => A): A = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case t: Throwable if attempt < retries =>
          attempt += 1
          System.err.println(
            s"[corpus-service] $what failed (${t.getMessage}); " +
              s"retry $attempt/$retries after ${backoff.toMillis} ms")
          sleep(backoff)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** What a [[runScheduled]] run did: drain ticks fired, quantizer
    * retrains triggered, standalone index compactions (a retrain's
    * rebuild supersedes compaction on its tick, so the two counts are
    * disjoint). */
  final case class CorpusScheduleStats(drainTicks: Int, retrains: Int,
                                       indexCompactions: Int)

  /** The deployable ENTRYPOINT of the corpus lifecycle — the
    * CorpusService twin of jobs.Main.runScheduled: a wall-clock loop
    * that, every `drainEvery`, drains both corpus stores through both
    * dedup cycles (logs compacted post-drain, serving index appended)
    * and refreshes the maintained artifacts (canonical corpus, then the
    * training-set manifest over it; with `scrub`, default on, the
    * incremental boilerplate-scrub table too — delta-grain per drain,
    * logs in the post-drain compaction set); every `maintainEvery`-th
    * tick it runs the heavier maintenance in the same between-drains
    * window — the growth-keyed retrain check (quantizer + assignment
    * table + index REBUILD when the corpus passed `retrainFactor`× its
    * trained size), then with `auditFloorPpm` set the QUALITY-keyed
    * check (retrain when the served path's audited mean recall@5 fell
    * below the floor — [[auditRetrain]]'s decision, paying the audit's
    * exact scan only on this cadence) or, when no retrain fires, index
    * file compaction —
    * and (with `scrub`) refreshes the trainer-facing scrubbed payload,
    * which the maintained scrub table turns from a full segment pass
    * into a key join, making the training-handoff cadence affordable
    * inside the loop. Everything
    * the always-on form needs compactQuiesced/maybeRetrain for is safe
    * here by construction: between drains NOTHING is live (AvailableNow
    * drains own the only writers), so every swap must land — failures
    * are loud, never skipped.
    *
    * The first tick trains the quantizer if none exists yet (the corpus
    * store must already hold its first embedding wave — the same
    * seed-before-schedule contract Main.runScheduled has). `clock` /
    * `sleep` / `stop` are injectable for testing, like Main's.
    *
    * `taskRetries` is the transient-failure dial (the reference retries
    * each task once after 30 s, track_delta.py:612-613): a failing
    * drain-or-refresh tick (or maintenance block) is re-attempted up to
    * that many times, `retryBackoff` apart, before the failure
    * propagates — default 0, keeping the failures-are-loud stance.
    * Retrying a half-done tick is safe by the same invariants that make
    * the loop correct at all: drains resume from their checkpoints and
    * every artifact lands by staged swap, so a retry re-runs idempotent
    * steps. `onTickStart` is an observation seam (metrics, test
    * injection) running INSIDE the retry scope.
    *
    * THE CURATION CADENCE (`importance` + `importanceSelect` + `pack`):
    * within every tick the order is weights → scores → manifest → pack.
    * Drain ticks score the new batch under the frozen epoch BEFORE the
    * manifest refresh reads the selection (the first importanceSelect
    * drain bootstraps the weight epoch — one batch deep, the cheapest
    * that train will ever be); maintenance ticks that retrain the
    * weights re-run scores and the gated manifest downstream of the new
    * epoch before the packer cuts spans. End state after any drain:
    * manifest + pack ≡ the one-shot t40 composition over the same live
    * corpus (CorpusServiceSpec pins it across drains and a takedown),
    * with `packShards` adding t31's stable shard deal to the packs. */
  def runScheduled(spark: SparkSession, p: Paths, stop: () => Boolean,
                   drainEvery: java.time.Duration =
                     java.time.Duration.ofMinutes(5),
                   maintainEvery: Int = 12,
                   retrainFactor: Double = 2.0,
                   auditFloorPpm: Option[Long] = None,
                   includeSemantic: Boolean = true,
                   decontaminate: Boolean = false,
                   contaminationRef: Option[String] = None,
                   scrub: Boolean = true,
                   fingerprint: Boolean = false,
                   novelty: Boolean = false,
                   chunks: Boolean = false,
                   postings: Boolean = false,
                   pack: Boolean = false,
                   tokenizer: Boolean = false,
                   importance: Boolean = false,
                   importanceSelect: Boolean = false,
                   packShards: Option[Int] = None,
                   sketch: Boolean = false,
                   splitAtClusterGrain: Boolean = false,
                   maxFilesPerTrigger: Option[Int] = None,
                   taskRetries: Int = 0,
                   retryBackoff: java.time.Duration =
                     java.time.Duration.ofSeconds(30),
                   onTickStart: Int => Unit = _ => (),
                   clock: () => java.time.LocalDateTime =
                     () => java.time.LocalDateTime.now(),
                   sleep: java.time.Duration => Unit =
                     d => Thread.sleep(d.toMillis)): CorpusScheduleStats = {
    require(!importanceSelect || importance,
      "runScheduled: importanceSelect gates the manifest on the DSIR " +
        "selection, which only exists when `importance` maintains it")
    if (trainedCount(spark, p).isEmpty) trainQuantizer(spark, p)
    var ticks = 0
    var retrains = 0
    var idxCompactions = 0
    var next = clock()
    while (!stop()) {
      val now = clock()
      if (!now.isBefore(next)) {
        withRetries(taskRetries, retryBackoff, sleep, s"drain tick $ticks") {
          onTickStart(ticks)
          drainAvailable(spark, p, maxFilesPerTrigger,
            compact = true, canonical = false, index = true,
            contaminationRef = contaminationRef, scrub = scrub,
            fingerprint = fingerprint, novelty = novelty, chunks = chunks,
            postings = postings)
          refreshCanonicalCorpus(spark, p, includeSemantic,
            includeFingerprint = fingerprint)
          // THE CURATION CADENCE within a tick is weights → scores →
          // manifest → pack (the pack riding the maintenance block
          // below): scores must exist under the current epoch before a
          // DSIR-gated manifest reads the selection, and the manifest
          // must exist before the packer cuts spans from its train
          // split. With importanceSelect the FIRST drain bootstraps the
          // weight epoch (the corpus is one batch deep — the cheapest
          // the train will ever be); plain `importance` keeps weight
          // training strictly on the maintenance cadence.
          if (importance && importanceSelect && !hasData(spark, p.dsirWeights))
            refreshDsirWeights(spark, p)
          // Score-on-ingest rides every drain (O(batch) under the
          // frozen weights), once a weight epoch exists to score under
          // — and BEFORE the manifest, so a DSIR-gated refresh reads a
          // selection that covers this drain's docs.
          if (importance && hasData(spark, p.dsirWeights))
            refreshImportanceScores(spark, p)
          // With a gate registered, its drop list flows into the manifest:
          // suite-leaked docs were caught at arrival, excluded here.
          refreshTrainingSet(spark, p, decontaminate,
            excludeContaminated = contaminationRef.isDefined,
            splitAtClusterGrain = splitAtClusterGrain,
            dsirSelect = importanceSelect)
          // The frequency monitor rides EVERY drain (O(batch): a
          // partial sketch of just-arrived docs), unlike the
          // maintenance-cadence artifacts below.
          if (sketch) refreshTokenSketch(spark, p)
          // The length-histogram sketch rides the same monitoring-plane
          // cadence and flag (both are O(batch) linear-sketch partials).
          if (sketch) refreshLengthHistogram(spark, p)
        }
        ticks += 1
        if (maintainEvery > 0 && ticks % maintainEvery == 0) {
          withRetries(taskRetries, retryBackoff, sleep,
              s"maintenance after tick $ticks") {
            if (grown(spark, p, retrainFactor)) {
              // Rebuilds the index too — a retrain tick needs no separate
              // compaction (the rebuild IS the most compact layout).
              retrainQuantizer(spark, p)
              retrains += 1
            } else if (auditFloorPpm.isDefined &&
                hasData(spark, p.annIndex) &&
                recordRecallAudit(spark, p, now) < auditFloorPpm.get) {
              // The QUALITY trigger ([[auditRetrain]]'s decision) on the
              // same cadence: growth didn't fire, but the served path's
              // audited recall fell below the floor — skewed appends
              // under a stale epoch. The audit's exact scan is the cost
              // of asking; it runs only on maintenance ticks — and every
              // run LOGS its row first ([[recordRecallAudit]]), so the
              // retrain decision and the stored time series can never
              // disagree: what fired is what was recorded.
              retrainQuantizer(spark, p)
              retrains += 1
            } else if (hasData(spark, p.annIndex)) {
              require(
                graft.queries.Extensions.tryCompactAnnIndex(spark, p.annIndex),
                "corpus service: scheduled index compaction failed to land " +
                  "(no writer should be live between drains)")
              idxCompactions += 1
            }
            // Deletions drain physically on the same heavy-maintenance
            // cadence: between drains nothing is live, so the purge's
            // guarded rewrites must land. Gated on the purge WATERMARK,
            // not bare tombstone existence — tombstones are permanent,
            // so existence alone would re-rewrite every store on every
            // tick after the first deletion ever.
            if (purgePending(spark, p))
              require(purgeTombstoned(spark, p),
                "corpus service: scheduled tombstone purge failed to land " +
                  "(no writer should be live between drains)")
            // Training handoff: the payload a trainer reads, re-cut to the
            // freshest manifest off the per-drain-maintained scrub table.
            if (scrub) refreshScrubbedCorpus(spark, p)
            // The pack manifest rides the same handoff cadence (a global
            // re-pack per manifest tick would churn every span for one
            // appended doc; between re-packs the view's tombstone gate
            // keeps takedowns compliant).
            // The tokenizer rides the heavy-maintenance cadence too,
            // GROWTH-KEYED (train on first tick, retrain at 1.25× the
            // trained corpus) — a stale-but-frozen vocab serves
            // correctly between retrains, so unconditional per-tick
            // retraining would be pure recompute. Runs BEFORE the
            // re-pack so a tokenizer-enabled service packs in subword
            // truth from the first tick.
            if (tokenizer) maybeRefreshTokenizer(spark, p)
            // The DSIR weight table rides the same growth-keyed rule: a
            // frozen table scores post-freeze ingests, so retraining is
            // a drift event, never a serving prerequisite. When a
            // retrain DOES mint a new epoch, the curation cadence
            // (weights → scores → manifest → pack) re-runs downstream
            // of it in order: the old epoch's rows stop being read, so
            // the score log must re-cover the live corpus before a
            // DSIR-gated manifest cuts the selection, and the manifest
            // before the pack below — otherwise this tick would pack
            // yesterday's selection under today's weights.
            if (importance && maybeRefreshDsirWeights(spark, p)) {
              refreshImportanceScores(spark, p)
              if (importanceSelect)
                refreshTrainingSet(spark, p, decontaminate,
                  excludeContaminated = contaminationRef.isDefined,
                  splitAtClusterGrain = splitAtClusterGrain,
                  dsirSelect = true)
            }
            if (pack) refreshPackManifest(spark, p, subword = tokenizer,
              shardCount = packShards)
          }
        }
        next = next.plus(drainEvery)
      }
      val d = java.time.Duration.between(clock(), next)
      if (!d.isNegative && !stop()) sleep(d)
    }
    CorpusScheduleStats(ticks, retrains, idxCompactions)
  }

  /** The unified near-dup report: every discovered pair once, labeled
    * by the modalities that caught it — 'verbatim' (shared shingles at
    * the Jaccard threshold), 'semantic' (cosine at the d05 threshold),
    * 'fingerprint' (payload-bytes SimHash within the m04 radius; merged
    * only when a fingerprint drain has run — a text-only deployment's
    * report is unchanged). One boolean column per modality plus a
    * `modality` string, the '+'-joined sorted names ("verbatim",
    * "semantic+verbatim", "fingerprint+semantic+verbatim", …), so a
    * consumer filters by axis without string-parsing. The dedicated
    * [[fingerprintPairsView]] remains the payload-axis view with the
    * hamming distances.
    *
    * Shape: tag each log with its name, union, ONE hash aggregate on
    * the pair key — generalizes to any modality count with a single
    * shuffle where the pairwise full-outer-join form needed one join
    * per added modality.
    *
    * doc_id and vec_id share the id space by construction of the
    * testdata corpus (embedding i embeds document i); deployments with
    * distinct id spaces pass a mapping frame through `semIdMap`. */
  def dedupReport(spark: SparkSession, p: Paths,
                  semIdMap: Option[DataFrame] = None): DataFrame = {
    val verbatim = StreamingDedup.pairsView(spark, p.pairs)
      .select(col("doc_a"), col("doc_b"), lit("verbatim").as("m"))
    val semRaw = StreamingSemanticDedup.pairsView(spark, p.semPairs)
    val sem0 = semIdMap.fold(semRaw) { m =>
      semRaw
        .join(m.select(col("vec_id").as("vec_a"), col("doc_id").as("da")), "vec_a")
        .join(m.select(col("vec_id").as("vec_b"), col("doc_id").as("db")), "vec_b")
        .select(col("da").as("vec_a"), col("db").as("vec_b"))
    }
    // A many-to-one semIdMap can send two vec_ids of the SAME document
    // into one pair (doc_a = doc_b after mapping — a self-pair, not a
    // duplicate) and several embedding pairs onto one doc pair; the
    // self-pair filter plus the pair-key aggregate collapse both, so
    // the report's each-pair-once property holds beyond the identity
    // mapping (CorpusServiceSpec pins the many-to-one case).
    val semantic = sem0
      .select(least(col("vec_a"), col("vec_b")).as("doc_a"),
        greatest(col("vec_a"), col("vec_b")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b"), lit("semantic").as("m"))
    val fingerprint =
      if (hasData(spark, p.fpPairs))
        StreamingFingerprint.pairsView(spark, p.fpPairs)
          .select(col("doc_a"), col("doc_b"), lit("fingerprint").as("m"))
      else verbatim.limit(0)
    val report = verbatim.unionByName(semantic).unionByName(fingerprint)
      .groupBy("doc_a", "doc_b")
      .agg(
        max(col("m") === "verbatim").as("verbatim"),
        max(col("m") === "semantic").as("semantic"),
        max(col("m") === "fingerprint").as("fingerprint"),
        array_join(sort_array(collect_set(col("m"))), "+").as("modality"))
    // Deleted docs leave the report on both sides (their pair rows are
    // purged at the next compaction; the filter keeps the read correct
    // in between — and permanently, since a deleted doc's partner may
    // still be live and its pair row legitimately gone).
    dropTombstoned(spark, p,
      dropTombstoned(spark, p, report, "doc_a"), "doc_b")
  }
}
