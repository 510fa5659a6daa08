package graft.queries

// NOTE: lives under src/main/scala/graft/tools (harness tooling, not
// query code) but in the queries package so it can time private helper
// legs in isolation.

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Leg-level profiler for the round-17 optimization targets — the
  * StageProfile method (cumulative legs, min of N, cleared cache + GC
  * per iteration) applied to the queries the round's baseline bench
  * put on top: d16 (fixture gen → signatures → candidates → routed
  * verify), s20 (PQ codebook/encode → ADC → rerank), and any query
  * named on the command line as a whole.
  *
  * Usage: runMain graft.queries.OptProfile [legset...]
  *   legsets: d16, s20, topk, t26, t40, pack (default: d16 + s20
  *   only — the others are one-off decision probes, run by name)
  *   env SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS / SPARK_GRAFT_ITERS (see
  *   [[graft.Session]]). */
object OptProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = graft.Session.sfDir
    val iters = graft.Session.iters(3)
    val sets = if (args.isEmpty) Set("d16", "s20") else args.toSet
    val spark = graft.Session.start()
    val E = Extensions

    // Warm-up
    spark.range(1000000).selectExpr("sum(id)").collect()
    E.docs(spark, sfDir).limit(1).collect()

    def time(label: String)(build: () => DataFrame): Double = {
      val ts = (1 to iters).map { _ =>
        spark.catalog.clearCache()
        System.gc()
        val t0 = System.nanoTime()
        val df = build()
        df.write.format("noop").mode("overwrite").save()
        E.freeCkptFresh(df)
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[optprofile] $label%-28s min=${ts.min}%6.2f  med=${ts.sorted.apply(ts.size / 2)}%6.2f")
      ts.min
    }

    if (sets("d16")) {
      time("d16 corpus gen")(() => E.longdocFixtureCorpus(spark, sfDir))
      time("d16 +banded sigs")(() =>
        E.bandedSignaturesOfDocs(E.longdocFixtureCorpus(spark, sfDir)))
      time("d16 +cand distinct")(() => {
        val corpus = E.longdocFixtureCorpus(spark, sfDir)
        val banded = E.bandedSignaturesOfDocs(corpus)
        banded.as("a")
          .join(banded.as("b"), E.bandEq && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .distinct()
      })
      time("d16 full (routed)")(() => E.dedupLongdocRouted(spark, sfDir))
      time("d16 full (kernel)")(() =>
        E.dedupLongdocRoutedMode(spark, sfDir, Some(false)))
      time("d16 full (frame)")(() =>
        E.dedupLongdocRoutedMode(spark, sfDir, Some(true)))
    }

    if (sets("topk")) {
      // Window vs native MinKLongs top-k over the SAME coarse frame
      // (s01's scoring join: |Q|·|corpus| rows) — the decisive probe
      // for rolling the native form out to the ANN coarse passes.
      import org.apache.spark.sql.expressions.Window
      val e = E.quantized(spark, sfDir)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("q").as("qa"),
          col("s2").as("sa"))
      val b = e.select(col("vec_id").as("neighbor_id"), col("q").as("qb"),
        col("s2").as("sb"))
      def scored() = q.join(b, col("query_id") =!= col("neighbor_id"))
        .withColumn("dot", E.dot)
        .withColumn("cos_ppm", E.cosPpm)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_ppm").desc, col("neighbor_id").asc)
      time("s01-shape window top5")(() =>
        scored().withColumn("rank", org.apache.spark.sql.functions
            .row_number().over(w))
          .filter(col("rank") <= 5)
          .select("query_id", "neighbor_id", "cos_ppm", "rank"))
      time("s01-shape native top5")(() =>
        E.topKPerGroup(scored(), "query_id", col("cos_ppm"),
            "neighbor_id", 5, "cos_ppm", "rank")
          .select("query_id", "neighbor_id", "cos_ppm", "rank"))
      time("s01-shape window top100")(() =>
        scored().withColumn("rank", org.apache.spark.sql.functions
            .row_number().over(w))
          .filter(col("rank") <= 100)
          .select("query_id", "neighbor_id"))
      time("s01-shape native top100")(() =>
        E.topKPerGroup(scored(), "query_id", col("cos_ppm"),
            "neighbor_id", 100)
          .select("query_id", "neighbor_id"))
    }

    if (sets("t26")) {
      val e = E.quantized(spark, sfDir)
      def assigned() = E.imiRankB(e, E.coarseBooks(spark, sfDir, e), "vec_id", 2)
        .filter(col("rn") <= 4)
        .select(col("vec_id"), col("cent_id").as("cell"))
      def cand() = assigned().as("a")
        .join(assigned().as("b"),
          col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
        .distinct()
      def scored() = cand()
        .join(e.select(col("vec_id").as("vec_a"), col("q").as("qa"),
          col("s2").as("sa")), "vec_a")
        .join(e.select(col("vec_id").as("vec_b"), col("q").as("qb"),
          col("s2").as("sb")), "vec_b")
        .withColumn("dot", E.dot)
        .withColumn("cos_ppm", E.cosPpm)
        .filter(col("cos_ppm") < 350000)
        .select("vec_a", "vec_b", "cos_ppm")
      println("[optprofile] t26 cand rows = " + cand().count() +
        ", scored rows = " + scored().count())
      time("t26 cand distinct")(() => cand())
      time("t26 +scored")(() => scored())
      time("t26 full")(() => E.hardNegatives(spark, sfDir))
    }

    if (sets("t40")) {
      def grams() = E.dsirGramsOf(E.docs(spark, sfDir))
      time("t38 grams")(() => grams())
      time("t38 +weights")(() =>
        E.dsirWeightsFromGrams(grams(), E.qualityOkDocs(E.docs(spark, sfDir))))
      time("t38 +scored")(() => {
        val g = grams().localCheckpoint()
        E.dsirScoresUnderGrams(g,
          E.dsirWeightsFromGrams(g, E.qualityOkDocs(E.docs(spark, sfDir))))
      })
      time("t38 full")(() => E.dsirSelect(spark, sfDir))
      time("t40 full")(() => E.curationManifest(spark, sfDir))
    }

    if (sets("pack")) {
      // packSpans prefix-sum variants over t28's real input — the
      // round-18 two-level decomposition cost probe (A/B showed t28
      // 0.47 → 0.85 s with the nested two-level form; these legs say
      // which structure carries the overhead).
      import org.apache.spark.sql.expressions.Window
      val cap = 128L
      val bd = 4096L
      def input() = E.docs(spark, sfDir).select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
      def blocks() = input().filter(col("n_toks") > 0)
        .withColumn("blk", expr(s"doc_id div $bd"))
      val wIn = Window.partitionBy("blk").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      def body(b: DataFrame, blkOff: DataFrame) = b
        .join(broadcast(blkOff), "blk")
        .withColumn("strt",
          col("blk_off") + coalesce(sum("n_toks").over(wIn), lit(0L)))
        .withColumn("pack_id", explode(sequence(
          expr(s"strt div $cap"), expr(s"(strt + n_toks - 1) div $cap"))))
        .select(col("doc_id"), col("pack_id"),
          greatest(col("pack_id") * cap - col("strt"), lit(0L)).as("doc_start"))
      def blkAgg(b: DataFrame) = b.groupBy("blk")
        .agg(sum("n_toks").as("blk_toks"))
        .withColumn("sblk", expr(s"blk div $bd"))
      val wB = Window.orderBy("blk").rowsBetween(Window.unboundedPreceding, -1)
      val wS = Window.orderBy("sblk").rowsBetween(Window.unboundedPreceding, -1)
      val wBin = Window.partitionBy("sblk").orderBy("blk")
        .rowsBetween(Window.unboundedPreceding, -1)
      time("pack A single-level")(() => {
        val b = blocks()
        val blkOff = b.groupBy("blk").agg(sum("n_toks").as("blk_toks"))
          .withColumn("blk_off", coalesce(sum("blk_toks").over(wB), lit(0L)))
          .select("blk", "blk_off")
        body(b, blkOff)
      })
      time("pack B nested 2-level")(() => {
        val b = blocks()
        val ba = blkAgg(b)
        val sOff = ba.groupBy("sblk").agg(sum("blk_toks").as("s_toks"))
          .withColumn("s_off", coalesce(sum("s_toks").over(wS), lit(0L)))
          .select("sblk", "s_off")
        val blkOff = ba.join(broadcast(sOff), "sblk")
          .withColumn("blk_off",
            col("s_off") + coalesce(sum("blk_toks").over(wBin), lit(0L)))
          .select("blk", "blk_off")
        body(b, blkOff)
      })
      time("pack C flat 2-broadcast")(() => {
        val b = blocks()
        val ba = blkAgg(b)
        val sOff = ba.groupBy("sblk").agg(sum("blk_toks").as("s_toks"))
          .withColumn("s_off", coalesce(sum("s_toks").over(wS), lit(0L)))
          .select("sblk", "s_off")
        val inOff = ba
          .withColumn("in_off", coalesce(sum("blk_toks").over(wBin), lit(0L)))
          .select("blk", "sblk", "in_off")
        b.join(broadcast(inOff), "blk").join(broadcast(sOff), "sblk")
          .withColumn("blk_off", col("s_off") + col("in_off"))
          .withColumn("strt",
            col("blk_off") + coalesce(sum("n_toks").over(wIn), lit(0L)))
          .withColumn("pack_id", explode(sequence(
            expr(s"strt div $cap"), expr(s"(strt + n_toks - 1) div $cap"))))
          .select(col("doc_id"), col("pack_id"),
            greatest(col("pack_id") * cap - col("strt"), lit(0L))
              .as("doc_start"))
      })
      time("pack E chained 2-level")(() => {
        // sblk totals derived FROM the in-superblock window frame
        // (max of the inclusive running sum), so both offset legs sit
        // above ONE Exchange(sblk) — if ReuseExchange fires, the input
        // executes twice total like the single-level form.
        val b = blocks()
        val ba = blkAgg(b)
        val inOffF = ba.withColumn("in_off",
          coalesce(sum("blk_toks").over(wBin), lit(0L)))
        val sOff = inOffF.groupBy("sblk")
          .agg(max(col("in_off") + col("blk_toks")).as("s_toks"))
          .withColumn("s_off", coalesce(sum("s_toks").over(wS), lit(0L)))
          .select("sblk", "s_off")
        b.join(broadcast(inOffF.select("blk", "sblk", "in_off")), "blk")
          .join(broadcast(sOff), "sblk")
          .withColumn("strt", col("s_off") + col("in_off") +
            coalesce(sum("n_toks").over(wIn), lit(0L)))
          .withColumn("pack_id", explode(sequence(
            expr(s"strt div $cap"), expr(s"(strt + n_toks - 1) div $cap"))))
          .select(col("doc_id"), col("pack_id"),
            greatest(col("pack_id") * cap - col("strt"), lit(0L))
              .as("doc_start"))
      })
      time("pack D driver s_off")(() => {
        val b = blocks()
        val ba = blkAgg(b).localCheckpoint()
        val sTot = ba.groupBy("sblk").agg(sum("blk_toks").as("s_toks"))
          .orderBy("sblk").collect()
        var acc = 0L
        val rows = sTot.map { r =>
          val out = (r.getLong(0), acc); acc += r.getLong(1); out
        }.toSeq
        import spark.implicits._
        val sOff = broadcast(rows.toDF("sblk", "s_off"))
        val blkOff = ba.join(sOff, "sblk")
          .withColumn("blk_off",
            col("s_off") + coalesce(sum("blk_toks").over(wBin), lit(0L)))
          .select("blk", "blk_off")
        body(b, blkOff)
      })
    }

    if (sets("s20")) {
      val n = E.corpusCountOf(spark, sfDir)
      time("s20 subvectors")(() => E.pqSubvectors(E.quantized(spark, sfDir)))
      time("s20 +codebooks")(() =>
        E.pqCodebooks(E.quantized(spark, sfDir), n))
      time("s20 +encode")(() => {
        val e = E.quantized(spark, sfDir)
        E.pqEncodeWith(e, E.pqCodebooks(e, n))
      })
      time("s20 full")(() => E.annPq(spark, sfDir))
    }

    spark.stop()
  }
}
