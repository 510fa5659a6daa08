package graft.streaming

import graft.queries.Extensions
import graft.Snapshot.hasData
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** INCREMENTAL maintenance of the n-gram novelty diagnostic (t21) — the
  * per-drain form of the corpus-saturation curve, built on the same
  * maintained artifact t22 probes: the first-seen table.
  *
  * Novelty is append-only friendly in the strongest sense: a document's
  * score is IMMUTABLE once computed ("seen earlier" quantifies over a
  * frozen past, so no later ingest can change it — unlike the scrub,
  * there is no crossing-rescore step). Per refresh everything is
  * delta-grain:
  *
  *   1. new docs = corpus ∖ novelty log's doc set (idempotent anti-join
  *      discovery, the appendAnnIndex/IncrementalScrub posture);
  *   2. their distinct 3-gram shingles (the d02/d03 generator verbatim);
  *   3. a shingle is novel iff NO completed prior refresh carried it
  *      and this doc is the batch's first (min id) to — "novel at
  *      ARRIVAL". Prior art is the stored view minus rows whose
  *      first_doc is in the current batch: such rows can only be the
  *      premature half of a crashed refresh (its docs never reached
  *      the log, so discovery re-selected them), which makes the probe
  *      INVARIANT under crash-replay without assuming id order;
  *   4. min-merge the batch's first-seen rows into the store: new
  *      shingles append, and a shingle whose stored first_doc is IN THE
  *      CURRENT BATCH with a smaller batch-first doc appends too (such a
  *      stored row can only be the premature half of a crashed refresh
  *      whose replay absorbed out-of-id-order arrivals; the view's
  *      min() collapses the pair). Rows from completed refreshes are
  *      never rewritten — the log already credits their doc, so the
  *      store always agrees with the log's attribution and the store IS
  *      authoritative, not merely "seen-by" state. Still O(batch
  *      grams); a clean replay appends nothing;
  *   5. append the per-doc novelty rows LAST — the commit marker. A
  *      crash between 4 and 5 replays the refresh with identical
  *      results (step 3's invariance); a crash after 5 makes the next
  *      refresh a no-op.
  *
  * Equivalence (NoveltySpec): after any ID-ORDERED wave partition the
  * novelty log ≡ one-shot `Extensions.ngramNovelty` on the final corpus
  * row-for-row (the arrival-order invariant the whole incremental
  * family — d10, m05, StreamingDedup — rests on). Under ARBITRARY
  * arrival order the scores are the arrival-order truth, and the
  * conservation law still holds exactly: each distinct shingle is novel
  * in exactly one document ever (CorpusServiceSpec pins it on
  * non-id-ordered waves). At 100 TB the first-seen table is bucketed by
  * shingle hash so step 3's probe prunes to the batch's key range; rows
  * are (shingle, first_doc) — the same inverted index the scrub keeps
  * at segment grain. */
object NoveltyTable {

  /** Min-merged first-seen view (empty-safe): one row per shingle with
    * the id of the first document that carried it. min() absorbs both
    * crash-replayed appends and any duplicate rows. */
  def firstSeenView(spark: SparkSession, firstSeenDir: String): DataFrame =
    if (hasData(spark, firstSeenDir))
      spark.read.parquet(firstSeenDir)
        .groupBy("shingle").agg(min("first_doc").as("first_doc"))
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("shingle", StringType),
        StructField("first_doc", LongType))))

  /** The maintained novelty table (empty-safe): t21's schema, one
    * immutable row per scored document; distinct absorbs replay. */
  def noveltyView(spark: SparkSession, logDir: String): DataFrame =
    if (hasData(spark, logDir)) spark.read.parquet(logDir).distinct()
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("doc_id", LongType),
        StructField("n_grams", LongType),
        StructField("n_novel", LongType),
        StructField("novelty_ppm", LongType))))

  /** One incremental refresh; returns the number of newly scored docs.
    * `exclude` gates discovery (CorpusService's tombstone set): a
    * deleted doc whose rows were purged must never be re-scored. */
  def maintain(spark: SparkSession, corpusDir: String,
               firstSeenDir: String, logDir: String,
               exclude: Option[DataFrame] = None): Long =
    refresh(spark,
      exclude.foldLeft(
        graft.Tables.t(spark, corpusDir, "documents")
          .select("doc_id", "lang", "text"))(
        (d, x) => d.join(x.select("doc_id"), Seq("doc_id"), "left_anti")),
      firstSeenDir, logDir)

  /** The refresh core at CANDIDATE grain — `maintain` passes the whole
    * corpus (anti-join discovery prunes it to the delta); the streaming
    * form passes each micro-batch. The anti-join runs either way, so a
    * checkpoint-replayed micro-batch scores nothing twice. */
  private def refresh(spark: SparkSession, candidates: DataFrame,
                      firstSeenDir: String, logDir: String): Long = {
    val processed = noveltyView(spark, logDir).select("doc_id").distinct()
    val newDocs = candidates.select("doc_id", "lang", "text")
      .join(processed, Seq("doc_id"), "left_anti")
      .localCheckpoint()
    val nNew = newDocs.count()
    if (nNew == 0) return 0L

    val sh = Extensions.shinglesOfDocs(newDocs).select("doc_id", "shingle")
    val batchFirst = sh.groupBy("shingle").agg(min("doc_id").as("bf"))
      .localCheckpoint()
    // Prior art = stored rows from COMPLETED refreshes only. A premature
    // row from the crash window between the two appends has first_doc in
    // the CURRENT batch (its docs never reached the log, so discovery
    // re-selected them); a completed refresh's first_doc is always a
    // logged doc. Excluding batch-id rows makes the probe invariant
    // under replay, without assuming id-ordered arrival.
    val prior = firstSeenView(spark, firstSeenDir)
      .join(newDocs.select(col("doc_id").as("first_doc")),
        Seq("first_doc"), "left_anti")
    // Novel at ARRIVAL: no prior wave carried the shingle, and this doc
    // is the first of the batch to (ties by min id — deterministic).
    // Under id-ordered arrival this equals t21's global min(doc_id).
    val globalFirst = batchFirst.join(prior, Seq("shingle"), "left")
      .select(col("shingle"),
        when(col("first_doc").isNull, col("bf")).as("gf"))
    val per = sh.join(globalFirst, "shingle")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("gf") === col("doc_id"), 1)).as("n_novel"))
    val scored = newDocs.select("doc_id")
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(col("n_grams") > 0,
          graft.functions.Portable.ppm(col("n_novel"), col("n_grams")))
          .as("novelty_ppm"))
      .localCheckpoint()

    // First-seen grows first (safe under the invariant above), the
    // novelty log last — it is the commit marker discovery reads. The
    // append MIN-MERGES rather than anti-joins, but ONLY over rows whose
    // stored first_doc is in the CURRENT batch: such a row can only be
    // the premature half of a crashed refresh whose replay absorbed
    // later (out-of-id-order) arrivals — the log attributes the shingle
    // to bf (step 3 excluded the premature row from prior art), so the
    // merge rewrites the store to agree (firstSeenView's min() collapses
    // the pair). A stored row from a COMPLETED refresh keeps its
    // attribution even when a smaller-id doc arrives later: the log
    // already credits the completed doc, so rewriting the store would
    // break store≡log — and if that later wave crashed between the two
    // appends, the replay's prior probe would exclude the rewritten row
    // (first_doc in batch) and score the shingle novel TWICE. A clean
    // replay (bf = stored) still appends nothing.
    batchFirst
      .join(firstSeenView(spark, firstSeenDir)
          .select(col("shingle"), col("first_doc").as("stored")),
        Seq("shingle"), "left")
      .join(newDocs.select(col("doc_id").as("stored"),
          lit(true).as("stored_in_batch")),
        Seq("stored"), "left")
      .filter(col("stored").isNull ||
        (col("stored_in_batch") && col("bf") < col("stored")))
      .select(col("shingle"), col("bf").as("first_doc"))
      .write.mode(SaveMode.Append).parquet(firstSeenDir)
    scored.write.mode(SaveMode.Append).parquet(logDir)
    nNew
  }

  /** ALWAYS-ON form — the live-trigger parity the three dedup
    * modalities have: the corpus dir is the stream source, each
    * appended file's docs become a micro-batch through [[refresh]].
    * The in-refresh anti-join plus the min-merge append make a
    * checkpoint-replayed batch a no-op, so the exactly-once story is
    * the same as StreamingDedup's (idempotent appends under a
    * replayable source). AvailableNow = drain-and-stop. */
  def start(spark: SparkSession, corpusDir: String, firstSeenDir: String,
            logDir: String, checkpointDir: String,
            trigger: org.apache.spark.sql.streaming.Trigger =
              org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.schema(StreamingDedup.docSchema).parquet(corpusDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        refresh(spark, batch, firstSeenDir, logDir); ()
      }
      .start()

  /** Drain all currently-available document files and stop. */
  def ingestAvailable(spark: SparkSession, corpusDir: String,
                      firstSeenDir: String, logDir: String,
                      checkpointDir: String): Unit =
    start(spark, corpusDir, firstSeenDir, logDir, checkpointDir)
      .awaitTermination()

  /** Post-drain compaction for both stores (the shared idempotent-log
    * posture; dedupRows also physically absorbs any replayed rows). */
  def compactLogs(spark: SparkSession, firstSeenDir: String,
                  logDir: String, files: Int = 4): Boolean = {
    val fsOk = graft.jobs.Warehouse.tryCoalesceLog(
      spark, firstSeenDir, dedupRows = true, files)
    val logOk = graft.jobs.Warehouse.tryCoalesceLog(
      spark, logDir, dedupRows = true, files)
    fsOk && logOk
  }
}
