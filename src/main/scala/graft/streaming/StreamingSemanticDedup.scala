package graft.streaming

import graft.queries.Extensions
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}

/** Continuous SEMANTIC near-dup detection at ingest — the streaming twin
  * of s05's cell-blocked SemDeDup, covering the near-dups StreamingDedup's
  * shingle path cannot see (paraphrases share no shingles but sit at
  * cosine ≥ the d05 threshold).
  *
  * State model mirrors production IVF: the coarse quantizer is trained
  * OFFLINE (`trainQuantizer` — Extensions' hash-sampled √n centroid rule,
  * materialized once per corpus refresh) and every micro-batch probes it:
  *
  *   1. quantize the batch (Extensions.quantizeFrame — bit-identical to
  *      the batch path);
  *   2. assign each vector to its top-4 nearest cells against the
  *      PERSISTED centroid table (broadcast, narrow map);
  *   3. cell-grain candidates: batch assignments ⋈ the persisted
  *      assignment table plus the batch itself (new-new pairs emitted
  *      once via id order);
  *   4. exact cosine verification at candidate grain — partner vectors
  *      fetched from the corpus store restricted to candidate partner
  *      ids, EXCLUDING batch ids (the corpus dir already contains the
  *      batch's file; refetching a new-new partner would duplicate its
  *      rows in the verification frame — the same inflation bug class
  *      the shingle path's anti-join guards against);
  *   5. append pairs ≥ 350000 ppm (d05's threshold) to the pair log,
  *      THEN append the batch's assignments to the assignment table.
  *
  * A pair is discovered exactly when its LATER member arrives, so after
  * any wave sequence the pair log equals the one-shot s05 on the full
  * corpus (StreamingSemanticDedupSpec pins the equivalence, plus
  * exactly-once across restarts via the checkpoint). Crash between the
  * two appends replays idempotently — both logs are append-only behind
  * distinct views, the same posture as StreamingDedup.
  *
  * 100 TB posture: assignment rows are 4 × (cell, vec_id) per vector
  * (fixed bytes), candidates shuffle at cell-collision grain, and the
  * full vectors enter only by key join at candidate grain — the
  * verification never scans the corpus. */
object StreamingSemanticDedup {

  /** embeddings-table schema subset the dedup needs. */
  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** Offline quantizer training: materialize the √n hash-sampled
    * centroid table from the CURRENT corpus. Re-run on corpus refresh;
    * the stream only ever reads the result. */
  /** `refine = true` runs s14's two Lloyd iterations over the sampled
    * seeds before writing (the production IVF training shape; see
    * Extensions.kmeansRefine). The pair log's semantics are unchanged
    * either way — logged pairs are exact-cosine facts, SOUND under any
    * quantizer (the d05-superset property StreamingSemanticDedupSpec
    * pins for the refined path); what the quantizer choice moves is
    * per-epoch completeness, i.e. which pairs get co-located. The
    * refined cells have no one-shot oracle twin (s05's contract is the
    * SAMPLED quantizer), so refine defaults off and the refined path
    * carries its own spec floors instead. */
  def trainQuantizer(spark: SparkSession, corpusTableDir: String,
                     centDir: String, refine: Boolean = false): Unit =
    (if (refine) Extensions.refinedCentroids(spark, corpusTableDir)
     else Extensions.trainedCentroids(spark, corpusTableDir))
      .write.mode(SaveMode.Overwrite).parquet(centDir)

  /** Quantizer STALENESS story — the operational other half of offline
    * training: as the corpus grows, the frozen centroid set drifts from
    * the data (√n itself grows), degrading cell co-location and with it
    * the probe's recall. `retrain` re-derives the quantizer from the
    * CURRENT corpus (the corpus count behind the √n stride is memoized
    * over the embeddings table's snapshot, so it is the grown count)
    * and REBUILDS the assignment table to match, via a staged swap. Run in a quiesced
    * window (no live trigger mid-rebuild — same single-writer contract
    * as Warehouse.migrateLog).
    *
    * Epoch semantics, spec-pinned: the PAIR LOG is retained across
    * retrains — logged pairs are exact-cosine facts, true at any
    * quantizer ("soundness across epochs": pairsView ⊆ the exact d05
    * pair set of the grown corpus). Completeness is per-epoch: a pair
    * is caught when its later member arrives IF the current epoch's
    * cells co-locate it — the same contract s05 itself carries. */
  def retrain(spark: SparkSession, corpusTableDir: String, centDir: String,
              assignDir: String): Unit = {
    trainQuantizer(spark, corpusTableDir, centDir)
    val cents = spark.read.parquet(centDir)
    val all = Extensions.quantizeFrame(
      graft.Tables.t(spark, corpusTableDir, "embeddings")
        .select(col("vec_id"), col("embedding")))
    val assigned = Extensions.imiRank(all, cents, "vec_id", 2)
      .filter(col("rn") <= 4)
      .select(col("vec_id"), col("cent_id").as("cell"))
    // Staged write + swap (replaceReport's machinery): the rebuilt table
    // must replace the old atomically-enough that a crashed retrain
    // leaves either the old complete table or the new one, never a mix.
    graft.jobs.Warehouse.replaceReport(spark, assigned, assignDir)
  }

  /** One micro-batch of the cycle (the unit the spec also drives):
    * batch embeddings in, verified pairs + assignments appended. */
  def processBatch(spark: SparkSession, batch: DataFrame, corpusDir: String,
                   centDir: String, assignDir: String,
                   pairsDir: String): Unit = {
    if (batch.isEmpty) return
    val b = Extensions.quantizeFrame(
      batch.select(col("vec_id"), col("embedding"))).persist()
    try {
      val cents = spark.read.parquet(centDir)
      val bAssign = Extensions.imiRank(b, cents, "vec_id", 2)
        .filter(col("rn") <= 4)
        .select(col("vec_id"), col("cent_id").as("cell"))
        .withColumn("is_new", lit(true))
      val tAssign = assignTable(spark, assignDir)
        .withColumn("is_new", lit(false))
      // Probe: batch vs (table ∪ batch). An old partner always pairs; a
      // new-new pair only in id order, so it is emitted exactly once.
      val cand = bAssign.as("a")
        .join(tAssign.unionByName(bAssign).as("b"),
          col("a.cell") === col("b.cell") &&
            col("a.vec_id") =!= col("b.vec_id") &&
            (!col("b.is_new") || col("a.vec_id") < col("b.vec_id")))
        .select(col("a.vec_id").as("new_vec"), col("b.vec_id").as("other_vec"))
        .distinct()
      // Partner vectors at candidate grain, batch ids excluded (they are
      // already in `b`; the corpus dir already holds the batch's file).
      val partnerIds = cand.select(col("other_vec").as("vec_id")).distinct()
        .join(b.select("vec_id"), Seq("vec_id"), "left_anti")
      val partnerQ = Extensions.quantizeFrame(
        spark.read.schema(embSchema).parquet(corpusDir)
          .join(partnerIds, Seq("vec_id"), "left_semi"))
      val allQ = b.select("vec_id", "q", "s2").unionByName(partnerQ)
      val verified = cand
        .join(allQ.select(col("vec_id").as("new_vec"), col("q").as("qa"),
          col("s2").as("sa")), "new_vec")
        .join(allQ.select(col("vec_id").as("other_vec"), col("q").as("qb"),
          col("s2").as("sb")), "other_vec")
        .withColumn("dot", graft.functions.DotI64(col("qa"), col("qb")))
        .withColumn("cos_ppm",
          floor(col("dot") / (sqrt(col("sa")) * sqrt(col("sb")))
            * lit(1000000.0) + lit(0.5)).cast("long"))
        .filter(col("cos_ppm") >= 350000)
        .select("new_vec", "other_vec", "cos_ppm")
      // Order is load-bearing (recache-by-path): the pair plan reads the
      // assignment table lazily, so it must be fully consumed by its
      // write BEFORE the batch assignments are appended to that path.
      verified.write.mode(SaveMode.Append).parquet(pairsDir)
      bAssign.drop("is_new").write.mode(SaveMode.Append).parquet(assignDir)
    } finally b.unpersist()
  }

  /** Start the continuous semantic dedup over `corpusDir` (the
    * embeddings store the pipeline appends to). `maxFilesPerTrigger`
    * bounds batch size exactly as FileIngest documents. */
  def start(spark: SparkSession, corpusDir: String, centDir: String,
            assignDir: String, pairsDir: String, checkpointDir: String,
            trigger: Trigger = Trigger.AvailableNow(),
            maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val reader0 = spark.readStream.schema(embSchema)
    val reader = maxFilesPerTrigger
      .fold(reader0)(n => reader0.option("maxFilesPerTrigger", n))
    reader.parquet(corpusDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(spark, batch, corpusDir, centDir, assignDir, pairsDir)
      }
      .start()
  }

  /** Drain all currently-available embedding files and stop. */
  def ingestAvailable(spark: SparkSession, corpusDir: String, centDir: String,
                      assignDir: String, pairsDir: String,
                      checkpointDir: String,
                      maxFilesPerTrigger: Option[Int] = None): Unit =
    start(spark, corpusDir, centDir, assignDir, pairsDir, checkpointDir,
      maxFilesPerTrigger = maxFilesPerTrigger).awaitTermination()

  /** The assignment table view (empty-safe before the first batch). */
  def assignTable(spark: SparkSession, assignDir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(assignDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.parquet(assignDir).distinct()
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("vec_id", LongType),
        StructField("cell", LongType))))
  }

  /** Canonicalized keep-once view of the pair log (smaller id first). */
  def pairsView(spark: SparkSession, pairsDir: String): DataFrame =
    spark.read.parquet(pairsDir)
      .select(least(col("new_vec"), col("other_vec")).as("vec_a"),
        greatest(col("new_vec"), col("other_vec")).as("vec_b"),
        col("cos_ppm"))
      .distinct()

  /** Bound the assignment + pair logs (immutable rows behind distinct
    * views — same coalescing compaction as StreamingDedup.compactLogs). */
  def compactLogs(spark: SparkSession, assignDir: String, pairsDir: String,
                  files: Int = 4): Boolean = {
    val aOk = graft.jobs.Warehouse.tryCoalesceLog(
      spark, assignDir, dedupRows = true, files)
    val pOk = graft.jobs.Warehouse.tryCoalesceLog(
      spark, pairsDir, dedupRows = true, files)
    aOk && pOk
  }
}
