package graft.streaming

import graft.queries.Extensions
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Benchmark-leakage detection AT INGEST — the streaming twin of the
  * d09/t16 contamination machinery pointed at a FIXED external eval
  * suite (`refDir`, its own documents table): each micro-batch of newly
  * ingested documents is 8-gram'd (Extensions' exact definition, so
  * stream and batch agree bit-for-bit), pre-filtered by the broadcast
  * Bloom built ONCE over the suite's distinct grams (memoized per
  * application over the suite table's snapshot — a fixed suite is
  * sketched once per run, an edited one again),
  * verified by the exact gram join above it, and appended to the
  * contamination log as (doc_id, n_hit_grams).
  *
  * This closes the last batch-only modality in the ingest-time story:
  * verbatim near-dups and semantic near-dups stream (StreamingDedup,
  * StreamingSemanticDedup); leakage against the eval suites a
  * deployment must protect was only caught at materialization time
  * (t16's anti-join). With the gate, a leaked document is KNOWN the
  * moment it arrives — the log is the standing drop list a training-set
  * materialization anti-joins, and an alerting hook reads it directly.
  *
  * Equivalence contract (StreamingContaminationSpec): documents arrive
  * in exactly one micro-batch and per-doc hit counts are independent
  * across documents, so the log after any wave sequence ≡ the one-shot
  * `Extensions.contaminationAgainst` on the final corpus; exactly-once
  * across restarts via the checkpoint; crash-replay double appends are
  * absorbed by the distinct view and physically by compaction.
  *
  * 100 TB posture: per batch the work is O(batch grams) below the Bloom
  * (the non-member fraction never reaches the shuffle) plus the exact
  * join at possible-member grain against the suite's gram set — the
  * reference side is eval-suite-sized (small, fixed), never the corpus. */
object StreamingContamination {

  /** One micro-batch of the gate: batch docs in, per-doc hit rows out. */
  def processBatch(spark: SparkSession, batch: DataFrame, refDir: String,
                   logDir: String): Unit = {
    if (batch.isEmpty) return
    val refGrams = Extensions.grams8OfDocs(
        graft.Tables.t(spark, refDir, "documents").select("doc_id", "text"))
      .select("gram").distinct()
    val g = Extensions.grams8OfDocs(batch.select("doc_id", "text"))
    Extensions.bloomFiltered(spark, "bloom#refgrams",
        Seq(s"$refDir/documents.parquet"), refGrams, g)
      .join(refGrams, "gram")
      .groupBy("doc_id")
      .agg(countDistinct(col("gram")).as("n_hit_grams"))
      .write.mode(SaveMode.Append).parquet(logDir)
  }

  /** Start the continuous gate over `corpusDir` (the same document store
    * the dedup ingester reads — each appended file = one micro-batch,
    * its own checkpoint). AvailableNow = drain-and-stop; a
    * processing-time trigger makes it always-on. */
  def start(spark: SparkSession, corpusDir: String, refDir: String,
            logDir: String, checkpointDir: String,
            trigger: Trigger = Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.schema(StreamingDedup.docSchema).parquet(corpusDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(spark, batch, refDir, logDir)
      }
      .start()

  /** Drain all currently-available document files and stop. */
  def ingestAvailable(spark: SparkSession, corpusDir: String, refDir: String,
                      logDir: String, checkpointDir: String): Unit =
    start(spark, corpusDir, refDir, logDir, checkpointDir)
      .awaitTermination()

  /** The contamination drop list (empty-safe before the first batch;
    * distinct absorbs crash-replay double appends). */
  def contamView(spark: SparkSession, logDir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(logDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.parquet(logDir).distinct()
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("doc_id", LongType),
        StructField("n_hit_grams", LongType, false))))
  }

  /** Bound the log's file count — same posture as the dedup logs (all
    * rows live, distinct views above, physical dedup absorbs replays). */
  def compactLog(spark: SparkSession, logDir: String,
                 files: Int = 4): Boolean =
    graft.jobs.Warehouse.tryCoalesceLog(spark, logDir,
      dedupRows = true, files)
}
