package graft

import graft.streaming.CorpusService
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** sf1 SERVICE SOAK — the per-tick wall-clock record for the always-on
  * CorpusService at the 10× corpus (VERDICT r15 #8 / r16 #2: the
  * one-shot queries have a standing sf1 baseline in BASELINE_SF1.md;
  * the DEPLOYABLE artifact — the scheduled lifecycle loop — had none).
  *
  * Shape: the corpus arrives in `waves` equal slices (pmod on the id),
  * wave 0 seeded before the loop (the seed-before-schedule contract),
  * later waves appended BETWEEN ticks through the sleep hook — the
  * cadence a real deployment sees. The loop runs the full deployable
  * configuration: both dedup cycles + log compaction per drain, the
  * ingest-time contamination gate against a planted eval suite, the
  * canonical corpus, the DSIR-gated training manifest, the incremental
  * scrub, novelty, chunk + posting maintenance, the growth-keyed
  * tokenizer, the curation pack with stable shards, and the
  * monitoring-plane sketches; maintenance runs after EVERY tick
  * (maintainEvery=1) so each tick's number includes its maintenance
  * share — retrainFactor 1.5 makes the run exercise both maintenance
  * arms (quantizer retrain + index rebuild on the growth ticks, index
  * compaction on the rest).
  *
  * Timing: per-tick wall-clock from consecutive onTickStart stamps,
  * with the sleep hook's wave-append time measured separately and
  * subtracted (ingest-side write cost is not the service's tick cost —
  * on a real deployment the producers are other machines). After the
  * loop, the maintained read paths are timed once each (ANN prefix +
  * SQ8 serving, the dedup report, manifest + pack reads) — the
  * serve-side numbers a deployment cares about between ticks.
  *
  * Usage: runMain graft.ServiceSoak [sfDir] — sfDir defaults to
  * SPARK_GRAFT_SF_DIR. Writes SOAK_SF1.json to the cwd; prints it as
  * the final stdout line. The record lands in BASELINE_SF1.md under
  * the same same-host/A-B update rules as the one-shot rows. */
object ServiceSoak {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val waves = sys.env.getOrElse("SPARK_GRAFT_SOAK_WAVES", "4").toInt.max(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val base = java.nio.file.Files.createTempDirectory("graft-soak").toString
    val p = CorpusService.Paths(base)
    val docs = Tables.t(spark, sfDir, "documents")
      .select("doc_id", "text", "lang")
    val emb = Tables.t(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    def dwave(k: Int) = docs.filter(pmod(col("doc_id"), lit(waves)) === k)
    def ewave(k: Int) = emb.filter(pmod(col("vec_id"), lit(waves)) === k)

    val counts = docs.agg(count(lit(1)), sum(octet_length(col("text"))))
      .collect()(0)
    val nDocs = counts.getLong(0)
    val corpusBytes = counts.getLong(1)
    System.err.println(
      s"[soak] $sfDir: $nDocs docs / $corpusBytes B in $waves waves -> $base")

    // Seed-before-schedule: wave 0 of both stores exists before the loop.
    dwave(0).write.mode("append").parquet(p.docs)
    ewave(0).coalesce(4).write.mode("append").parquet(p.embeddings)

    // A planted eval suite for the ingest-time leakage gate (every 50th
    // doc, re-keyed out of the corpus id space — the spec's shape).
    val refDir =
      java.nio.file.Files.createTempDirectory("graft-soak-eval").toString
    docs.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 90000000L).as("doc_id"), col("text"),
        col("lang"))
      .coalesce(1).write.parquet(s"$refDir/documents.parquet")

    val t0 = java.time.LocalDateTime.parse("2024-06-01T12:00:00")
    var fakeNow = t0
    var appended = 1
    var appendNs = 0L
    val tickStartNs = scala.collection.mutable.ArrayBuffer.empty[Long]
    val tickAppendNs = scala.collection.mutable.ArrayBuffer.empty[Long]
    val stats = CorpusService.runScheduled(spark, p,
      stop = () => tickStartNs.size >= waves,
      maintainEvery = 1, retrainFactor = 1.5,
      contaminationRef = Some(refDir),
      novelty = true, chunks = true, postings = true, pack = true,
      tokenizer = true, importance = true, importanceSelect = true,
      packShards = Some(8), sketch = true,
      onTickStart = _ => {
        tickStartNs += System.nanoTime()
        tickAppendNs += appendNs
      },
      clock = () => fakeNow,
      sleep = d => {
        if (appended < waves) {
          val a0 = System.nanoTime()
          dwave(appended).write.mode("append").parquet(p.docs)
          ewave(appended).coalesce(4).write.mode("append").parquet(p.embeddings)
          appendNs += System.nanoTime() - a0
          appended += 1
        }
        fakeNow = fakeNow.plus(d)
      })
    val endNs = System.nanoTime()

    // Per-tick seconds: interval to the next tick start (loop end for
    // the last), minus the wave appends that landed inside it.
    def r2(v: Double): Double = math.rint(v * 100) / 100
    val bounds = (tickStartNs :+ endNs).toIndexedSeq
    val appendsAt = (tickAppendNs :+ appendNs).toIndexedSeq
    val ticks = tickStartNs.indices.map { i =>
      r2((bounds(i + 1) - bounds(i) - (appendsAt(i + 1) - appendsAt(i))) / 1e9)
    }

    // Serve-side reads off the maintained state, timed once each.
    def timed(label: String)(f: => Long): (String, Double, Long) = {
      spark.catalog.clearCache()
      val s0 = System.nanoTime()
      val n = f
      val dt = (System.nanoTime() - s0) / 1e9
      System.err.println(f"[soak] serve $label%-14s ${dt}%6.2f s ($n rows)")
      (label, r2(dt), n)
    }
    val serves = Seq(
      timed("ann_prefix") { CorpusService.annTopK(spark, p).count() },
      timed("ann_sq8") { CorpusService.annSq8TopK(spark, p).count() },
      timed("dedup_report") { CorpusService.dedupReport(spark, p).count() },
      timed("training_set") {
        CorpusService.trainingSetView(spark, p).count() },
      timed("pack_manifest") {
        CorpusService.packManifestView(spark, p).count() })

    val tickJson = ticks.mkString("[", ",", "]")
    val serveJson = serves.map { case (l, t, n) =>
      s""""$l":{"sec":$t,"rows":$n}""" }.mkString("{", ",", "}")
    val line =
      s"""{"metric":"service_soak","sf":"$sfDir","docs":$nDocs,"corpus_bytes":$corpusBytes,"waves":$waves,"tick_sec":$tickJson,"drains":${stats.drainTicks},"retrains":${stats.retrains},"index_compactions":${stats.indexCompactions},"serve":$serveJson}"""
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("SOAK_SF1.json"),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Exception =>
      System.err.println(s"[soak] artifact not written: ${e.getMessage}") }
    println(line)
    spark.stop()
  }
}
