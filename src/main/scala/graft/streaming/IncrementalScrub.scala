package graft.streaming

import graft.queries.Extensions
import graft.Snapshot.hasData
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** INCREMENTAL maintenance of the boilerplate scrub (t19) — the
  * full-recompute-per-refresh artifact turned into a delta job, which
  * works because the lifecycle is append-only: a segment's document
  * frequency only ever GROWS, so the scrub decision for a document can
  * change in exactly one direction (a segment it contains crosses
  * df 1 → 2 and must start being dropped) and only when a NEW document
  * shares that segment.
  *
  * State, two append-only stores:
  *   - postings: distinct (seg, doc_id) — the inverted index every
  *     scrub/dedup system maintains. Doubles as the processed-doc set
  *     (new docs are discovered by anti-join, the same idempotent
  *     discovery appendAnnIndex uses). Read through distinct(), so a
  *     crash-replayed append is absorbed; at 100 TB bucket it by seg so
  *     the key-restricted reads below prune to the probed buckets.
  *   - scrub log: (doc_id, clean_text, v) versioned rows read through
  *     latestView — the engine's ReplacingMergeTree upsert shape. `v`
  *     is the processed-doc count at refresh time: deterministic, so a
  *     crash-retry appends IDENTICAL rows (absorbed by the view and
  *     physically by compaction), and monotone across refreshes.
  *
  * Per refresh, every step is delta-grain:
  *   1. new docs = corpus ∖ postings' doc set;
  *   2. their segments + per-seg new-doc counts (O(new text));
  *   3. crossing segments: old df < 2 ∧ old df + new ≥ 2, where old df
  *      is read from postings RESTRICTED to the new segs' keys;
  *   4. affected old docs = postings ⋉ crossing (key-restricted);
  *   5. re-scrub ONLY affected ∪ new docs against df_total = restricted
  *      old counts + new counts, append their clean_text versions;
  *   6. append the new postings LAST — the commit marker. A crash
  *      before 6 replays the whole refresh byte-identically; a crash
  *      after 6 makes the next refresh a no-op.
  *
  * Equivalence (IncrementalScrubSpec): after any wave sequence,
  * latestView of the scrub log ≡ one-shot `Extensions.scrubbedCorpus`
  * on the final corpus — and untouched documents are never rewritten
  * (their log row count stays 1), which is the O(affected) claim made
  * physical. */
object IncrementalScrub {

  /** Distinct inverted-index view (empty-safe). */
  def postingsView(spark: SparkSession, postingsDir: String): DataFrame =
    if (hasData(spark, postingsDir))
      spark.read.parquet(postingsDir).distinct()
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("seg", StringType),
        StructField("doc_id", LongType))))

  /** The maintained scrub table: latest clean_text per document. */
  def scrubTable(spark: SparkSession, scrubLogDir: String): DataFrame =
    graft.ops.Core.latestView(
      spark.read.parquet(scrubLogDir).select("doc_id", "clean_text", "v"),
      Seq("doc_id"), "v", tiebreak = Seq("clean_text"))
      .select("doc_id", "clean_text")

  /** One incremental refresh; returns the number of documents whose
    * clean_text was (re)written — new docs plus crossing-affected. */
  def maintain(spark: SparkSession, corpusDir: String,
               postingsDir: String, scrubLogDir: String,
               exclude: Option[DataFrame] = None): Long = {
    // `exclude` gates discovery (CorpusService's tombstone set): the
    // corpus store is append-only, so a purged doc would otherwise be
    // re-discovered as "new" on the next refresh.
    val docs = exclude.foldLeft(
      graft.Tables.t(spark, corpusDir, "documents")
        .select("doc_id", "text"))(
      (d, x) => d.join(x.select("doc_id"), Seq("doc_id"), "left_anti"))
    val oldPost = postingsView(spark, postingsDir)
    val processed = oldPost.select("doc_id").distinct()
    val newDocs = docs.join(processed, Seq("doc_id"), "left_anti")
      .localCheckpoint()
    val nNewDocs = newDocs.count()
    if (nNewDocs == 0) return 0L

    val newSegs = Extensions.scrubSegments(newDocs).localCheckpoint()
    val newPost = newSegs.select("seg", "doc_id").distinct()
    val nNew = newPost.groupBy("seg").agg(count(lit(1)).as("n_new"))
    // Old df restricted to the arriving segs — a key lookup into the
    // index, never a full aggregation of it.
    val dfOldAtNew = oldPost
      .join(nNew.select("seg"), Seq("seg"), "left_semi")
      .groupBy("seg").agg(count(lit(1)).as("df_old"))
    val crossing = nNew.join(dfOldAtNew, Seq("seg"), "left")
      .na.fill(0L, Seq("df_old"))
      .filter(col("df_old") < 2 && col("df_old") + col("n_new") >= 2)
      .select("seg")
    val affectedOld = oldPost.join(crossing, Seq("seg"), "left_semi")
      .select("doc_id").distinct()
    val targetIds = affectedOld
      .unionByName(newDocs.select("doc_id")).localCheckpoint()

    // Re-scrub the target set against df_total = restricted old + new.
    val tSegs = Extensions.scrubSegments(
      docs.join(targetIds, Seq("doc_id"), "left_semi"))
    val tKeys = tSegs.select("seg").distinct()
    val oldCounts = oldPost.join(tKeys, Seq("seg"), "left_semi")
      .groupBy("seg").agg(count(lit(1)).as("c_old"))
    val newCounts = nNew.join(tKeys, Seq("seg"), "left_semi")
    val dfTotal = oldCounts.join(newCounts, Seq("seg"), "full_outer")
      .na.fill(0L, Seq("c_old", "n_new"))
      .select(col("seg"), (col("c_old") + col("n_new")).as("df"))
    val clean = Extensions.reassembleClean(
      tSegs.join(dfTotal, "seg"), targetIds)

    // Deterministic monotone epoch: identical on a crash-retry (the
    // postings commit below hasn't landed), strictly larger afterwards.
    val v = processed.count() + nNewDocs
    graft.jobs.Warehouse.appendVersions(
      clean.withColumn("v", lit(v)), scrubLogDir, Seq("doc_id"))
    // Commit marker last: once the postings land, the next refresh
    // discovers nothing and the log rows above are final.
    newPost.write.mode(SaveMode.Append).parquet(postingsDir)

    val rewritten = targetIds.count()
    Extensions.freeCkpt(newDocs)
    Extensions.freeCkpt(newSegs)
    Extensions.freeCkpt(targetIds)
    rewritten
  }

  /** Bound both stores' file counts (quiesced windows only — same
    * posture as the dedup logs). Physical distinct absorbs replayed
    * postings appends and duplicated crash-retry scrub rows; superseded
    * scrub versions stay (bounded by the number of crossing events). */
  def compactLogs(spark: SparkSession, postingsDir: String,
                  scrubLogDir: String, files: Int = 4): Boolean = {
    val postOk = graft.jobs.Warehouse.tryCoalesceLog(
      spark, postingsDir, dedupRows = true, files)
    val logOk = graft.jobs.Warehouse.tryCoalesceLog(
      spark, scrubLogDir, dedupRows = true, files)
    postOk && logOk
  }
}
