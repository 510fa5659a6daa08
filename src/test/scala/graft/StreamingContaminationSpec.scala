package graft

import graft.queries.Extensions
import graft.streaming.StreamingContamination
import org.apache.spark.sql.functions._

/** The ingest-time leakage gate must be a pure SCHEDULING change against
  * the one-shot cross-corpus audit: documents arrive in exactly one
  * micro-batch and per-doc hit counts are independent across documents,
  * so the accumulated log after any wave sequence equals
  * `contaminationAgainst` on the final corpus — and the log carries the
  * usual append-only contracts (exactly-once re-drain, replay-absorbing
  * view, bounded files via compaction). */
class StreamingContaminationSpec extends SparkSpec {

  test("wave-ingested contamination log ≡ one-shot cross-corpus audit") {
    val srcDir = sf("sf0.001")
    val base = java.nio.file.Files.createTempDirectory("graft-contam").toString
    val refDir = java.nio.file.Files.createTempDirectory("graft-evalsuite")
      .toString
    val docs = Tables.t(spark, srcDir, "documents")
      .select("doc_id", "text", "lang")

    // The eval suite: every 50th corpus document verbatim under a
    // disjoint id space — its 8-grams are exactly its corpus twin's, so
    // hits are guaranteed without being universal (the gate must be
    // selective, not a rubber stamp).
    docs.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 900000).as("doc_id"), col("text"), col("lang"))
      .coalesce(1).write.parquet(s"$refDir/documents.parquet")

    val docsDir = s"$base/documents.parquet"
    val log = s"$base/dedup/contam"
    val ckpt = s"$base/ckpt/contam"
    docs.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.mode("append").parquet(docsDir)
    StreamingContamination.ingestAvailable(spark, docsDir, refDir, log, ckpt)
    docs.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.mode("append").parquet(docsDir)
    StreamingContamination.ingestAvailable(spark, docsDir, refDir, log, ckpt)

    val oneShot = Extensions.contaminationAgainst(spark, base, refDir)
      .persist()
    try {
      val hits = oneShot.count()
      val total = docs.count()
      assert(hits > 0, "fixture must produce contamination hits")
      assert(hits < total, "gate must be selective, not flag everything")
      assertSameRows(StreamingContamination.contamView(spark, log), oneShot,
        "streamed contamination log vs one-shot audit")

      // Exactly-once: a re-drain with nothing new appends nothing.
      StreamingContamination.ingestAvailable(spark, docsDir, refDir, log,
        ckpt)
      assertSameRows(StreamingContamination.contamView(spark, log), oneShot,
        "re-drain must not change the log's view")

      // Compaction bounds the file count; the view is unchanged.
      assert(StreamingContamination.compactLog(spark, log),
        "post-drain log compaction must land")
      val files = new java.io.File(log).listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(files <= 4, s"contamination log not compacted: $files files")
      assertSameRows(StreamingContamination.contamView(spark, log), oneShot,
        "compaction must not change the log's view")
    } finally oneShot.unpersist()
  }
}
