package graft.streaming

import graft.queries.Extensions
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Continuous near-dup detection AT INGEST — the streaming twin of d10's
  * incremental batch dedup: the corpus parquet dir is itself the stream
  * source (each appended file of new documents = one micro-batch), and
  * every batch runs the probe shape whose cost is O(batch + collisions),
  * never a corpus self-join:
  *
  *   1. shingle + minhash-band the batch (Extensions' exact definitions,
  *      so streaming and batch agree bit-for-bit);
  *   2. banded equi-join of batch signatures against the persisted
  *      signature TABLE (every doc ever ingested) plus the batch itself
  *      (new-new pairs emitted once via id order);
  *   3. exact-Jaccard verification of the candidates — partner shingle
  *      sets are rebuilt from the corpus store restricted to the
  *      candidate partner ids (a key-grain semi-join fetch, not a scan);
  *   4. append verified pairs (>= the d03/d10 0.8 threshold) to the pair
  *      log, THEN append the batch's signatures to the table.
  *
  * A near-dup pair (a, b) is discovered exactly when its LATER member
  * arrives, so after any sequence of batches the pair log holds the same
  * pair set the one-shot batch LSH (lshPairs) computes on the full
  * corpus — StreamingDedupSpec pins that equivalence, plus exactly-once
  * across restarts via the checkpoint.
  *
  * Crash between the two appends (pairs committed, signatures not) makes
  * the replayed batch re-emit the same pairs — both sinks are append-only
  * logs read through `distinct`-style views (pairsView/sigTable), the
  * same idempotent-append posture Warehouse.appendVersions documents.
  *
  * 100 TB posture: the signature table is 4 band rows × 5 longs per doc
  * (fixed bytes per document, orders below the corpus), the banded join
  * shuffles by (band, signature) — collision-grain — and the corpus
  * fetch for verification is semi-joined to candidate ids. Nothing in
  * the cycle touches more than the batch, its collisions, and their
  * partners. */
object StreamingDedup {

  /** documents-table schema subset the dedup needs. */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType)))

  /** One micro-batch of the cycle (also the unit StreamingDedupSpec
    * drives directly): batch docs in, pairs + signatures appended.
    * `strategy` is the long-doc BENCH dial (Extensions
    * .pairJaccardStrategy — None = production routing); streaming
    * callers never pass it. */
  def processBatch(spark: SparkSession, batch: DataFrame, corpusDir: String,
                   sigDir: String, pairsDir: String,
                   strategy: Option[Boolean] = None): Unit = {
    if (batch.isEmpty) return
    val b = batch.select(col("doc_id"), col("text"), col("lang")).persist()
    try {
      val bSig = Extensions.bandedSignaturesOfDocs(b)
        .withColumn("is_new", lit(true))
      val tSig = sigTable(spark, sigDir).withColumn("is_new", lit(false))
      // Probe: batch vs (table ∪ batch). An old partner always pairs; a
      // new-new pair only in id order, so it is emitted exactly once.
      // MATERIALIZED at candidate grain: `cand` is referenced by the
      // partner-id fetch below AND by the verify plan (twice more on
      // the routed long-doc path) — left lazy, each reference re-runs
      // the signature probe join. Collision-grain rows, tiny at any
      // corpus size; released in the finally with the batch.
      val cand = bSig.as("a")
        .join(tSig.unionByName(bSig).as("b"),
          Extensions.bandEq && col("a.doc_id") =!= col("b.doc_id") &&
            (!col("b.is_new") || col("a.doc_id") < col("b.doc_id")))
        .select(col("a.doc_id").as("new_doc"), col("b.doc_id").as("other_doc"))
        .distinct()
        .localCheckpoint()
      // Exact verification through Extensions.pairJaccard (the d03/d10
      // tail): short-doc pairs verify row-locally from raw texts, pairs
      // with a long side route to the frame-grain path that pays each
      // document's shingles once. New-doc text from the batch, partner
      // text from the batch first (new-new pairs) falling back to a
      // candidate-grain semi-join fetch of the corpus store. The old
      // frame-grain verify had to carefully EXCLUDE batch docs from the
      // corpus fetch (the store already holds the batch's file, and
      // duplicated shingle rows quadrupled the intersection count); the
      // routed verify reads each side's text from ONE deduplicated
      // frame, so the hazard class is gone by construction.
      val partnerIds = cand.select(col("other_doc").as("doc_id")).distinct()
        .join(b.select("doc_id"), Seq("doc_id"), "left_anti")
      val partnerTexts = spark.read.schema(docSchema).parquet(corpusDir)
        .join(partnerIds, Seq("doc_id"), "left_semi")
        .select("doc_id", "text")
      // Persisted: the verify plan reads `allTexts` on both pair sides
      // (and the routed long branch a third time) — each read otherwise
      // re-scans the corpus store for the partner fetch. Candidate-
      // participant texts only; unpersisted in the finally.
      val allTexts = b.select("doc_id", "text").unionByName(partnerTexts)
        .persist()
      // Routing probe over the CHEAP constituents (the persisted batch,
      // and the raw store scan memoized over the store's snapshot) —
      // probing allTexts itself would execute the candidate join a
      // second time.
      val hasLong =
        Extensions.hasLongDocs(b, Extensions.LongDocVerifyBytes, None) ||
          Extensions.hasLongDocs(
            spark.read.schema(docSchema).parquet(corpusDir),
            Extensions.LongDocVerifyBytes, Some(corpusDir))
      val verified = Extensions
        .pairJaccardStrategy(cand, allTexts, "new_doc", "other_doc",
          strategy, knownHasLong = Some(hasLong))
        .filter(col("jaccard_ppm") >= 800000)
      // Order is load-bearing (recache-by-path): the pair plan reads the
      // signature table lazily, so it must be fully consumed by its write
      // BEFORE the batch signatures are appended to that same path.
      verified.write.mode(SaveMode.Append).parquet(pairsDir)
      bSig.drop("is_new").write.mode(SaveMode.Append).parquet(sigDir)
      // Cycle-scoped block release (the always-on form runs this every
      // batch): the verify plan's per-invocation checkpoints (routed
      // path's flagged/longSh), the candidate frame, and the pinned
      // participant texts. The failure path leaves them to driver GC —
      // a failed batch aborts the stream, not the block manager.
      Extensions.freeCkptFresh(verified)
      Extensions.freeCkpt(cand)
      allTexts.unpersist()
    } finally b.unpersist()
  }

  /** Start the continuous dedup over `corpusDir` (the document store the
    * pipeline appends to). AvailableNow = drain-and-stop (tests, catch-up
    * runs); a processing-time trigger makes it the always-on form. */
  def start(spark: SparkSession, corpusDir: String, sigDir: String,
            pairsDir: String, checkpointDir: String,
            trigger: Trigger = Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.schema(docSchema).parquet(corpusDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(spark, batch, corpusDir, sigDir, pairsDir)
      }
      .start()

  /** Drain all currently-available document files and stop. */
  def ingestAvailable(spark: SparkSession, corpusDir: String, sigDir: String,
                      pairsDir: String, checkpointDir: String): Unit =
    start(spark, corpusDir, sigDir, pairsDir, checkpointDir)
      .awaitTermination()

  /** The signature table view (empty-safe before the first batch). */
  def sigTable(spark: SparkSession, sigDir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(sigDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.parquet(sigDir).distinct()
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("band", org.apache.spark.sql.types.IntegerType, false),
        StructField("doc_id", LongType),
        StructField("b0", LongType), StructField("b1", LongType),
        StructField("b2", LongType), StructField("b3", LongType))))
  }

  /** Bound the dedup's two append-only logs — the "explicitly
    * append-only" growth the rest of the engine's compaction story was
    * missing. Signatures are immutable per doc and BOTH logs are read
    * through distinct views (sigTable, pairsView), so compaction here is
    * file coalescing + physical distinct: row content never changes, and
    * crash-replay double appends are absorbed on disk instead of at
    * every read. Run BETWEEN ingest cycles; a live micro-batch that
    * appends mid-rewrite makes that log's pass skip cleanly (false) and
    * the next call retries — same optimistic posture as the streamed
    * daily logs. Returns true when both logs compacted. */
  def compactLogs(spark: SparkSession, sigDir: String, pairsDir: String,
                  files: Int = 4): Boolean = {
    val sigOk = graft.jobs.Warehouse.tryCoalesceLog(
      spark, sigDir, dedupRows = true, files)
    val pairsOk = graft.jobs.Warehouse.tryCoalesceLog(
      spark, pairsDir, dedupRows = true, files)
    sigOk && pairsOk
  }

  /** Canonicalized keep-once view of the pair log (smaller id first;
    * distinct absorbs any crash-replay double append). */
  def pairsView(spark: SparkSession, pairsDir: String): DataFrame =
    spark.read.parquet(pairsDir)
      .select(least(col("new_doc"), col("other_doc")).as("doc_a"),
        greatest(col("new_doc"), col("other_doc")).as("doc_b"))
      .distinct()
}
