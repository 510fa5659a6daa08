package graft.streaming

import graft.queries.Extensions
import graft.Snapshot.hasData
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

/** INCREMENTAL maintenance of the chunk table (t25) — the
  * retrieval-grain artifact the embedding job consumes — and its
  * chunk-grain dedup rollup (d15) as a view over the log.
  *
  * Chunks are the EASIEST member of the incremental family: a
  * document's chunks are a pure function of that document alone (no
  * cross-doc state — unlike the scrub's crossing-rescore or novelty's
  * first-seen probe), so a refresh is exactly
  *
  *   1. new docs = corpus ∖ chunk log's doc set (the idempotent
  *      anti-join discovery every maintained artifact here uses);
  *   2. chunk them with the one-shot definition verbatim
  *      (Extensions.chunksOfDocs — same 64/48 windows, same hash);
  *   3. append. A replayed append re-selects only docs whose files
  *      never committed; the distinct view absorbs any duplicate rows
  *      a crash window could leave.
  *
  * Arrival-order INVARIANT in the strongest sense: after any wave
  * partition, in any order, the log equals one-shot t25 on the final
  * corpus row-for-row (CorpusServiceSpec pins it), because no chunk
  * row reads anything outside its own document.
  *
  * The d15 rollup ([[dupesView]]) is recomputed over the log at read:
  * doc-grain state (a hash + two ints per chunk), one hash-shuffle
  * groupBy — at 100 TB the log is bucketed by chunk_hash so the
  * rollup and any chunk-grain join prune to key ranges; the text is
  * never re-tokenized (the log IS the tokenization, paid once per
  * doc at ingest). */
object ChunkTable {

  /** The maintained chunk table (t25's schema; empty-safe); distinct
    * absorbs crash-replayed appends. */
  def chunkView(spark: SparkSession, logDir: String): DataFrame =
    if (hasData(spark, logDir)) spark.read.parquet(logDir).distinct()
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("doc_id", LongType),
        StructField("chunk_id", IntegerType),
        StructField("n_tokens", LongType),
        StructField("chunk_hash", StringType))))

  /** d15's rollup over the maintained log: chunk hashes recurring in
    * ≥2 distinct documents, with occurrence counts and the canonical
    * (min-id) holder. */
  def dupesView(spark: SparkSession, logDir: String): DataFrame =
    chunkView(spark, logDir)
      .groupBy("chunk_hash")
      .agg(countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("n_chunks"),
        min("doc_id").as("first_doc"))
      .filter(col("n_docs") >= 2)

  /** One incremental refresh; returns the number of newly chunked docs. */
  def maintain(spark: SparkSession, corpusDir: String,
               logDir: String,
               exclude: Option[DataFrame] = None): Long =
    refresh(spark,
      exclude.foldLeft(
        graft.Tables.t(spark, corpusDir, "documents").select("doc_id", "text"))(
        (d, x) => d.join(x.select("doc_id"), Seq("doc_id"), "left_anti")),
      logDir)

  /** The refresh core at CANDIDATE grain — `maintain` passes the whole
    * corpus (anti-join discovery prunes to the delta); the streaming
    * form passes each micro-batch. The anti-join makes a
    * checkpoint-replayed batch append nothing. */
  private def refresh(spark: SparkSession, candidates: DataFrame,
                      logDir: String): Long = {
    val processed = chunkView(spark, logDir).select("doc_id").distinct()
    val newDocs = candidates.select("doc_id", "text")
      .join(processed, Seq("doc_id"), "left_anti")
      .localCheckpoint()
    val nNew = newDocs.count()
    if (nNew == 0) return 0L
    Extensions.chunksOfDocs(newDocs)
      .write.mode(SaveMode.Append).parquet(logDir)
    nNew
  }

  /** ALWAYS-ON form — live-trigger parity with the dedup modalities:
    * the corpus dir is the stream source; each appended file's docs
    * become a micro-batch through [[refresh]]. AvailableNow =
    * drain-and-stop. */
  def start(spark: SparkSession, corpusDir: String, logDir: String,
            checkpointDir: String,
            trigger: org.apache.spark.sql.streaming.Trigger =
              org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.schema(StreamingDedup.docSchema).parquet(corpusDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        refresh(spark, batch, logDir); ()
      }
      .start()

  /** Drain all currently-available document files and stop. */
  def ingestAvailable(spark: SparkSession, corpusDir: String,
                      logDir: String, checkpointDir: String): Unit =
    start(spark, corpusDir, logDir, checkpointDir).awaitTermination()

  /** Post-drain compaction (the shared idempotent-log posture). */
  def compactLog(spark: SparkSession, logDir: String,
                 files: Int = 4): Boolean =
    graft.jobs.Warehouse.tryCoalesceLog(
      spark, logDir, dedupRows = true, files)

  // ------------------------------------------------- chunk EMBEDDINGS

  /** The maintained chunk-EMBEDDING table (empty-safe): the embedding
    * job's OUTPUT store, (vec_id, doc_id, q, s2) at chunk grain.
    * Here the vectors are the deterministic content-hash derivation
    * (Extensions.chunkVectorsOf) standing in for model inference —
    * which is exactly why this store must exist as an artifact rather
    * than a per-query recomputation: at scale the derivation is a GPU
    * forward pass, and re-running it at serving time is not a map, it
    * is the job. The chunk index builds from THIS table and the RAG
    * rerank fetches full vectors from it by key join. */
  def vecView(spark: SparkSession, vecDir: String): DataFrame =
    if (hasData(spark, vecDir)) spark.read.parquet(vecDir).distinct()
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("vec_id", LongType),
        StructField("doc_id", LongType),
        StructField("q",
          org.apache.spark.sql.types.ArrayType(LongType)),
        StructField("s2", LongType))))

  /** One incremental embedding refresh: chunks in the chunk log not
    * yet in the vector store (anti-join on the packed chunk vec_id)
    * are embedded and appended — O(new chunks) per drain, the per-wave
    * cost of the embedding job. Returns newly embedded chunks. */
  def maintainVectors(spark: SparkSession, chunkLogDir: String,
                      vecDir: String): Long = {
    val pending = Extensions.chunkVectorsOf(chunkView(spark, chunkLogDir))
      .join(vecView(spark, vecDir).select("vec_id"),
        Seq("vec_id"), "left_anti")
      .localCheckpoint()
    val nNew = pending.count()
    if (nNew == 0) return 0L
    pending.write.mode(SaveMode.Append).parquet(vecDir)
    nNew
  }

  // ------------------------------------------------- chunk POSTINGS

  /** The maintained CHUNK-grain posting table (empty-safe): the lexical
    * half of chunk-hybrid retrieval (s23's serving path), the same
    * inverted-file idea as PostingTable one grain down — one row per
    * distinct (packed chunk id, token), keyed `doc_id` so the
    * grain-agnostic lexical rankers (bm25Rank) consume it verbatim.
    * Tokens in t25's overlap regions post to BOTH covering chunks. */
  def postingView(spark: SparkSession, dir: String): DataFrame =
    if (hasData(spark, dir)) spark.read.parquet(dir).distinct()
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("doc_id", LongType),
        StructField("tok", org.apache.spark.sql.types.StringType),
        StructField("tf", LongType))))

  /** One incremental chunk-posting refresh (doc-grain discovery: a
    * doc's chunk postings are a pure function of the doc, so new docs
    * = corpus ∖ posted doc set — the packed ids recover the doc id by
    * shiftright 12). `exclude` gates discovery (tombstones). */
  def maintainPostings(spark: SparkSession, corpusDir: String,
                       dir: String,
                       exclude: Option[DataFrame] = None): Long = {
    val processed = postingView(spark, dir)
      .select(shiftright(col("doc_id"), 12).as("doc_id")).distinct()
    val newDocs = exclude.foldLeft(
        graft.Tables.t(spark, corpusDir, "documents")
          .select("doc_id", "text"))(
        (d, x) => d.join(x.select("doc_id"), Seq("doc_id"), "left_anti"))
      .join(processed, Seq("doc_id"), "left_anti")
      .localCheckpoint()
    val nNew = newDocs.count()
    if (nNew == 0) return 0L
    Extensions.chunkTokens(newDocs)
      .write.mode(SaveMode.Append).parquet(dir)
    nNew
  }

  /** Post-drain compaction for the chunk-posting log. */
  def compactPostings(spark: SparkSession, dir: String,
                      files: Int = 4): Boolean =
    graft.jobs.Warehouse.tryCoalesceLog(
      spark, dir, dedupRows = true, files)

  /** Post-drain compaction for the vector store. */
  def compactVectors(spark: SparkSession, vecDir: String,
                     files: Int = 4): Boolean =
    graft.jobs.Warehouse.tryCoalesceLog(
      spark, vecDir, dedupRows = true, files)

  /** ONE-TIME migration for chunk logs written under an OLDER tiling
    * definition (artifact-format changes like round 10's last-window
    * bound fix, (n−1)/48 → max((n−17)/48, 0)): discovery is doc-grain
    * (a chunked doc is never re-chunked), so a pre-change log keeps its
    * obsolete tail chunks forever and every artifact derived from it —
    * chunkView, the vector store, the chunk index — diverges from the
    * current one-shot definition. This rebuilds the log's EXISTING docs
    * under the current `chunksOfDocs` (staged swap; docs not yet
    * chunked stay undiscovered — that remains `maintain`'s job), drops
    * vector-store rows whose chunk no longer exists (same-id chunks
    * keep their vectors — the tiling moves WHICH windows exist, not a
    * window's content), and leaves the chunk index for the caller to
    * rebuild (delete the dir and refresh — a retrain-class event, the
    * epoch contract). Run quiesced; idempotent (a re-run rewrites the
    * same rows). */
  def rechunk(spark: SparkSession, corpusDir: String, logDir: String,
              vecDir: Option[String] = None,
              exclude: Option[org.apache.spark.sql.DataFrame] = None)
      : Unit = {
    if (!hasData(spark, logDir)) return
    val processed = chunkView(spark, logDir).select("doc_id").distinct()
    val docs = exclude.foldLeft(
        graft.Tables.t(spark, corpusDir, "documents")
          .select("doc_id", "text"))(
        (d, x) => d.join(x.select("doc_id"), Seq("doc_id"), "left_anti"))
      .join(processed, Seq("doc_id"), "left_semi")
    graft.jobs.Warehouse.replaceReport(spark,
      Extensions.chunksOfDocs(docs), logDir)
    vecDir.filter(hasData(spark, _)).foreach { vd =>
      val live = Extensions.chunkVectorsOf(chunkView(spark, logDir))
        .select("vec_id")
      require(graft.jobs.Warehouse.guardedRewrite(spark, vd) { stage =>
        spark.read.parquet(vd).distinct()
          .join(live, Seq("vec_id"), "left_semi")
          .repartition(4)
          .write.mode(SaveMode.Overwrite).parquet(stage)
      }, s"rechunk: vector store at $vd failed the quiesced rewrite")
    }
  }
}
