package graft

import graft.queries.Extensions
import graft.streaming.{CorpusService, PostingTable}
import org.apache.spark.sql.functions._

/** The maintained posting table must be a pure STORAGE change against
  * one-shot tokenization (arrival-order invariant in the strongest
  * sense — a doc's postings read nothing outside the doc), and hybrid
  * retrieval served off it (+ the stored ANN index) must equal one-shot
  * s16 row-for-row, which also pins "top-20 unchanged at the default
  * df cap" on this corpus. The planted-hot-token case proves the cap
  * actually binds (the candidate set shrinks) without touching real
  * matches. */
class PostingSpec extends SparkSpec {

  private def oneShotTf(base: String) =
    Tables.t(spark, base, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))

  test("arbitrary-order waves ≡ one-shot postings; replay no-op; compaction") {
    val src = sf("sf0.001")
    val base = java.nio.file.Files.createTempDirectory("graft-post").toString
    val corpus = s"$base/corpus"
    val log = s"$base/postings"
    val docs = Tables.t(spark, src, "documents")
      .select("doc_id", "text", "lang")
    // Waves arrive OUT of id order (mod-3 slices) — the posting table
    // must not care.
    for (k <- Seq(2, 0, 1)) {
      docs.filter(pmod(col("doc_id"), lit(3)) === k).coalesce(1)
        .write.mode("append").parquet(s"$corpus/documents.parquet")
      assert(PostingTable.maintain(spark, corpus, log) > 0)
    }
    assertSameRows(PostingTable.postingView(spark, log), oneShotTf(corpus),
      "maintained postings vs one-shot tokenization on the final corpus")
    assert(PostingTable.maintain(spark, corpus, log) == 0L,
      "nothing new must be a strict no-op")
    // df is a pure rollup of the log.
    assertSameRows(PostingTable.dfView(spark, log),
      oneShotTf(corpus).groupBy("tok").agg(count(lit(1)).as("df")),
      "df view vs one-shot document frequency")
    assert(PostingTable.compactLog(spark, log),
      "quiesced compaction must land")
    assert(new java.io.File(log).listFiles()
      .count(_.getName.endsWith(".parquet")) <= 4, "log not compacted")
    assertSameRows(PostingTable.postingView(spark, log), oneShotTf(corpus),
      "compaction must not change the view")
  }

  test("service-served hybrid ≡ one-shot s16 after wave-partitioned ingestion") {
    val src = sf("sf0.001")
    val base = java.nio.file.Files.createTempDirectory("graft-hybsvc").toString
    val p = CorpusService.Paths(base)
    val docs = Tables.t(spark, src, "documents").select("doc_id", "text", "lang")
    val emb = Tables.t(spark, src, "embeddings")
    // Two waves; each drain maintains index + postings.
    for (k <- Seq(0, 1)) {
      docs.filter(pmod(col("doc_id"), lit(2)) === k).coalesce(1)
        .write.mode("append").parquet(p.docs)
      emb.filter(pmod(col("vec_id"), lit(2)) === k).coalesce(1)
        .write.mode("append").parquet(p.embeddings)
      if (k == 0) CorpusService.trainQuantizer(spark, p)
      CorpusService.drainAvailable(spark, p, index = true, postings = true)
    }
    val queries = Tables.t(spark, base, "documents")
      .filter(col("doc_id") < 10)
      .select(col("doc_id").as("vec_id"), col("text"))
      .join(Tables.t(spark, base, "embeddings")
        .select("vec_id", "embedding"), "vec_id")
    // vectorExact=true shares one-shot s16's ranker bit-for-bit, so the
    // served hybrid must equal it ROW-FOR-ROW — this pins the posting
    // table, the df cap default (top-20 unchanged on this corpus), and
    // the shared fusion in one shot.
    val oneShot = Extensions.hybridRrf(spark, base).persist()
    try {
      assertSameRows(
        CorpusService.hybridTopKFor(spark, p, queries, excludeSelf = true,
          vectorExact = true),
        oneShot,
        "service-served hybrid (exact vector dial, default df cap) vs one-shot s16")
      // The index-served vector dial (the scale path) inherits s07's
      // cell-probe recall, so row-for-row equality is not its contract;
      // the pin is result-set overlap@10 against one-shot s16 — the
      // AnnRecallSpec idiom (floor from measurement, headroom below).
      val served = CorpusService.hybridTopKFor(spark, p, queries,
        excludeSelf = true).persist()
      try {
        val inter = served.join(oneShot, Seq("query_id", "neighbor_id"),
          "left_semi").count()
        val total = oneShot.count()
        info(s"indexed-vector hybrid overlap@10 vs one-shot: $inter/$total")
        assert(inter * 100 >= total * 75,
          s"indexed-vector hybrid overlap@10 $inter/$total below 0.75 floor " +
            "(measured 0.84 at round 10)")
      } finally served.unpersist()
    } finally oneShot.unpersist()
    // BM25 off the posting log: doc lengths/totals/df all derive from
    // the maintained tf rows, so the served ranking must equal one-shot
    // s19 row-for-row (the service default cap drops nothing here —
    // pinned again through this equality).
    val tfLog = PostingTable.postingView(spark, p.postings)
    assertSameRows(
      Extensions.bm25Rank(
        tfLog.filter(col("doc_id") < 10)
          .select(col("doc_id").as("query_id"), col("tok")),
        tfLog, dfCapPpm = 900000L),
      Extensions.bm25TopK(spark, base),
      "posting-served BM25 vs one-shot s19")
    // The bm25 hybrid dial: fusion of the exact vector ranker with
    // s19's top-20 — ≡ composing the one-shot pieces directly.
    val e = Extensions.quantizeFrame(
      Tables.t(spark, base, "embeddings"))
    val vec20 = Extensions.vecRankExact(e,
      e.join(queries.select("vec_id"), "vec_id"), excludeSelf = true, k = 20)
    val bm20 = Extensions.bm25Rank(
        tfLog.filter(col("doc_id") < 10)
          .select(col("doc_id").as("query_id"), col("tok")),
        tfLog, dfCapPpm = 900000L, excludeSelf = true, k = 20)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("rank_l"))
    assertSameRows(
      CorpusService.hybridTopKFor(spark, p, queries, excludeSelf = true,
        vectorExact = true, bm25 = true),
      Extensions.rrfFuse(vec20, bm20),
      "bm25-hybrid service vs one-shot fused twin")
  }

  test("external hybrid query ranks its planted twin first") {
    val src = sf("sf0.001")
    val base = java.nio.file.Files.createTempDirectory("graft-hybext").toString
    val p = CorpusService.Paths(base)
    Tables.t(spark, src, "documents").select("doc_id", "text", "lang")
      .write.parquet(p.docs)
    Tables.t(spark, src, "embeddings").write.parquet(p.embeddings)
    CorpusService.trainQuantizer(spark, p)
    CorpusService.drainAvailable(spark, p, index = true, postings = true)
    // External request: doc 3's text + embedding under a disjoint id.
    val ext = Tables.t(spark, base, "documents").filter(col("doc_id") === 3)
      .select((col("doc_id") + 900000).as("vec_id"), col("text"))
      .join(Tables.t(spark, base, "embeddings").filter(col("vec_id") === 3)
          .select((col("vec_id") + 900000).as("vec_id"), col("embedding")),
        "vec_id")
    val top = CorpusService.hybridTopKFor(spark, p, ext)
      .filter(col("rank") === 1).collect()
    assert(top.length == 1, "external query lost its rank-1 row")
    assert(top(0).getAs[Long]("neighbor_id") == 3L,
      s"external query did not rank its corpus twin first: ${top(0)}")
  }

  test("the df cap drops hot-token-only candidates and keeps real ranks") {
    import spark.implicits._
    // Every doc carries the stop-word-grade token; only 1↔2 and 3↔4
    // share content tokens. A query for doc 1 uncapped pays Σ df = the
    // whole corpus as candidates; capped, only its real match survives.
    val docs = Seq(
      (1L, "the alpha beta gamma"),
      (2L, "the alpha beta delta"),
      (3L, "the epsilon zeta eta"),
      (4L, "the epsilon zeta theta"),
      (5L, "the iota kappa lambda"),
      (6L, "the mu nu xi"))
      .toDF("doc_id", "text")
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val nn = docs.agg(count(lit(1)).as("n_docs"))
    val qtoks = tf.filter(col("doc_id") === 1)
      .select(col("doc_id").as("query_id"), col("tok"))
    val uncapped = Extensions.lexicalRank(qtoks, tf, nn).collect()
    // The service default (90% of the corpus): "the" is in 6/6 docs —
    // stop-word grade, dropped; every content token (df 1–2) survives.
    val capped = Extensions.lexicalRank(qtoks, tf, nn, dfCapPpm = 900000L)
      .collect()
    // Uncapped: "the" (df = 6) connects doc 1 to every other doc.
    assert(uncapped.map(_.getAs[Long]("neighbor_id")).sorted.toSeq ==
      Seq(2L, 3L, 4L, 5L, 6L), s"uncapped candidates: ${uncapped.toSeq}")
    // Capped: only the real (alpha, beta) match.
    assert(capped.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(2L),
      s"capped candidates: ${capped.toSeq}")
    // The real match's rank is unchanged by the cap.
    assert(uncapped.find(_.getAs[Long]("neighbor_id") == 2L)
      .get.getAs[Int]("rank_l") == 1)
    assert(capped.head.getAs[Int]("rank_l") == 1)
  }
}
