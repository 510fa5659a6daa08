package graft.streaming

import graft.Snapshot.hasData
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** INCREMENTAL maintenance of the lexical posting table — the
  * storage-for-recompute swap for s16's lexical ranker, completing the
  * hybrid serving story: the vector side already has a stored,
  * appendable, served index (the ANN layout); this gives the lexical
  * side its artifact, so `CorpusService.hybridTopKFor` can serve fused
  * retrieval off maintained state for EXTERNAL queries instead of
  * re-tokenizing the corpus per request.
  *
  * The log is (tok, doc_id, tf) at term-frequency grain — the classic
  * inverted-file posting list, one row per distinct (doc, token). Like
  * the chunk table, a document's postings are a pure function of that
  * document alone, so the refresh is the simplest member of the
  * incremental family:
  *
  *   1. new docs = corpus ∖ posting log's doc set (idempotent anti-join
  *      discovery);
  *   2. tokenize and count ONLY those (the one-shot definition
  *      verbatim — whitespace split, per-(doc, tok) count);
  *   3. append. The distinct view absorbs crash-replayed appends.
  *
  * Document frequency is NOT stored: df(t) = count of log rows per
  * token is a monotone rollup of the log (append-only ⇒ arrival-order
  * invariant), recomputed by [[dfView]] in one hash agg — storing it
  * would add an update-in-place cell per token to an otherwise
  * append-only artifact. At 100 TB the log is bucketed by `tok`, so a
  * query's posting join prunes to its tokens' key ranges and df rides
  * the same buckets (the impact-ordered posting layout search engines
  * ship; the df-cap dial in Extensions.lexicalRank is the matching
  * hot-token guard).
  *
  * Equivalence (PostingSpec): after ANY wave partition in ANY order the
  * view equals the one-shot (doc_id, tok, tf) frame on the final corpus
  * row-for-row, and service-served hybrid retrieval ≡ one-shot s16. */
object PostingTable {

  /** The maintained posting table (empty-safe); distinct absorbs
    * crash-replayed appends. */
  def postingView(spark: SparkSession, logDir: String): DataFrame =
    if (hasData(spark, logDir)) spark.read.parquet(logDir).distinct()
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("doc_id", LongType),
        StructField("tok", StringType),
        StructField("tf", LongType))))

  /** The (tok → df) view — one monotone hash agg over the log. */
  def dfView(spark: SparkSession, logDir: String): DataFrame =
    postingView(spark, logDir)
      .groupBy("tok").agg(count(lit(1)).as("df"))

  /** One incremental refresh; returns the number of newly posted docs.
    * `exclude` gates discovery (CorpusService's tombstone set): a
    * deleted doc whose state was purged must never be re-discovered —
    * the corpus store is append-only, so the gate is permanent. */
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
    val processed = postingView(spark, logDir).select("doc_id").distinct()
    val newDocs = candidates.select("doc_id", "text")
      .join(processed, Seq("doc_id"), "left_anti")
      .localCheckpoint()
    val nNew = newDocs.count()
    if (nNew == 0) return 0L
    newDocs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
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
}
