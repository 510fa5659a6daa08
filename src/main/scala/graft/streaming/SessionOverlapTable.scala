package graft.streaming

import graft.ops.Joins
import graft.Snapshot.hasData
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** q36's interval-overlap pairing as a CONTINUOUS cycle over finalized
  * sessions — the streaming twin of `Parity.sessionOverlaps`, built the
  * StreamingDedup/NoveltyTable way: `StreamingDelta.sessionCounts`'
  * append stream (sessions finalize exactly once, when the watermark
  * passes their close) lands in foreachBatch, where each batch of
  * newly-closed sessions is overlap-joined — the SAME bucketed
  * `ops.Joins.intervalOverlapJoin`, same thresholds — against the
  * persisted session log (+ itself, new-new once) and the discovered
  * pairs are appended. A pair is discovered exactly when its
  * LATER-closing session closes; nothing already logged is ever
  * re-paired, so the per-cycle cost is O(batch × per-bucket density),
  * never a re-scan of session history.
  *
  * Cross-user normalization (user_a < user_b, each start riding with
  * its user) is row-local; same-user pairs cannot overlap (a session's
  * end is last-event + gap and the next session starts ≥ gap later)
  * and are filtered with the same predicate the batch form uses.
  * The logs are append-only; crash-replayed appends are absorbed by the
  * readers' distinct views (the signature/assignment-log convention).
  */
object SessionOverlapTable {

  private def asIntervals(sess: DataFrame, tag: String): DataFrame =
    sess.select(col("user_id").as(s"${tag}_user"),
      unix_micros(col("session_start")).as(s"${tag}_st"),
      unix_micros(col("session_end")).as(s"${tag}_en"))

  private def finish(cand: DataFrame): DataFrame = {
    val flip = col("a_user") > col("b_user")
    cand
      .withColumn("overlap_us",
        least(col("a_en"), col("b_en")) - greatest(col("a_st"), col("b_st")))
      .filter(col("overlap_us") >= graft.queries.Parity.SessMinOverlapUs)
      .select(
        when(flip, col("b_user")).otherwise(col("a_user")).as("user_a"),
        when(flip, col("b_st")).otherwise(col("a_st")).as("a_st"),
        when(flip, col("a_user")).otherwise(col("b_user")).as("user_b"),
        when(flip, col("a_st")).otherwise(col("b_st")).as("b_st"),
        col("overlap_us"))
  }

  /** One cycle: pair `batch` (newly-closed (user_id, session_start,
    * session_end) rows) against the stored log and itself, append the
    * pairs, then append the sessions. Callable directly from
    * foreachBatch. */
  def ingest(spark: SparkSession, batch: DataFrame,
             sessLog: String, pairLog: String): Unit = {
    val sessions = batch.select("user_id", "session_start", "session_end")
    if (sessions.isEmpty) return
    val a = asIntervals(sessions, "a")
    val newOld =
      if (!hasData(spark, sessLog)) None
      else Some(finish(
        Joins.intervalOverlapJoin(a,
            asIntervals(spark.read.parquet(sessLog), "b"), Seq.empty,
            "a_st", "a_en", "b_st", "b_en",
            graft.queries.Parity.SessBucketUs,
            salt = graft.queries.Parity.SessOverlapSalt)
          .filter(col("a_user") =!= col("b_user"))))
    val newNew = finish(
      Joins.intervalOverlapJoin(a, asIntervals(sessions, "b"), Seq.empty,
          "a_st", "a_en", "b_st", "b_en", graft.queries.Parity.SessBucketUs,
          salt = graft.queries.Parity.SessOverlapSalt)
        .filter(col("a_user") < col("b_user")))
    val pairs = newOld.fold(newNew)(_.unionByName(newNew))
    if (!pairs.isEmpty)
      pairs.write.mode(SaveMode.Append).parquet(pairLog)
    sessions.write.mode(SaveMode.Append).parquet(sessLog)
    // The appends are durable — release the cycle's eager checkpoints
    // (the interval joins' hot-census frames live in `pairs`' plan).
    // Without this every drain of the always-on service pins another
    // census's blocks until driver GC (the CC loop's freeCkpt
    // discipline, applied to the serving path).
    graft.queries.Extensions.freeCkptFresh(pairs)
  }

  /** The accumulated pair log (empty-schema frame before any pair). */
  def pairsView(spark: SparkSession, pairLog: String): DataFrame =
    if (hasData(spark, pairLog)) spark.read.parquet(pairLog).distinct()
    else spark.range(0).select(col("id").as("user_a"), col("id").as("a_st"),
      col("id").as("user_b"), col("id").as("b_st"), col("id").as("overlap_us"))

  /** Compact both append-only logs in place (the StreamingDedup
    * compactLogs contract): rows deduped — safe because every reader
    * goes through a distinct view, and it makes crash-replayed batch
    * duplicates physically gone instead of absorbed per read — and the
    * per-append small files coalesced. Caller must be quiesced (no
    * live writer), the standard streamed-log compaction rule; `false`
    * (writer raced) is retryable. Without this, [[pairsView]]'s
    * distinct cost grows with HISTORY rather than with the live pair
    * set. */
  def compactLogs(spark: SparkSession, sessLog: String, pairLog: String,
                  files: Int = 4): Boolean =
    graft.jobs.Warehouse.tryCoalesceLog(spark, sessLog,
      dedupRows = true, files) &&
      graft.jobs.Warehouse.tryCoalesceLog(spark, pairLog,
        dedupRows = true, files)
}
