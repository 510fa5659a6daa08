package graft

import graft.queries.Extensions
import org.apache.spark.sql.functions._

/** Behavior of the dedup candidate generators on adversarial corpora the
  * sf tables don't contain: bucket-boundary near-pairs (d08's blocking
  * blind spot) and the LSH graph's relationship to the exact pair set. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def doc(id: Long, lang: String, len: Int): (Long, String, String) = {
    // Identical 20-char prefix (so edit_dist = 0), padded to `len`.
    val prefix = "identical prefix 123"
    (id, lang, prefix + "x" * (len - prefix.length))
  }

  test("d08 overlap blocking compares a near-pair straddling a bucket edge") {
    // Lengths 49 and 51 fall in buckets 0 and 1: equal-bucket blocking
    // never compares them; own+successor-bucket emission collides them
    // in bucket 1.
    val docs = Seq(doc(1L, "en", 49), doc(2L, "en", 51))
      .toDF("doc_id", "lang", "text")
    val got = Extensions.editDistancePairs(docs)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == Set((1L, 2L, 0)))
  }

  test("d08 emits an equal-bucket pair exactly once (candidate dedup)") {
    // Both docs sit in bucket 0, so they collide in blocks 0 AND 1 — the
    // greatest-bucket rule must emit exactly one output row.
    val docs = Seq(doc(1L, "en", 30), doc(2L, "en", 32))
      .toDF("doc_id", "lang", "text")
    assert(Extensions.editDistancePairs(docs).count() == 1L)
  }

  test("d08 never compares docs two buckets apart (stated recall bound)") {
    val docs = Seq(doc(1L, "en", 30), doc(2L, "en", 140))
      .toDF("doc_id", "lang", "text")
    assert(Extensions.editDistancePairs(docs).count() == 0L)
  }

  test("d08 blocks across languages (lang is a hard partition)") {
    val docs = Seq(doc(1L, "en", 49), doc(2L, "de", 51))
      .toDF("doc_id", "lang", "text")
    assert(Extensions.editDistancePairs(docs).count() == 0L)
  }

  test("same-lang lshPairs are a subset of the exact n-gram Jaccard pairs") {
    // The LSH graph may MISS a true >=0.8 pair (banding recall) but must
    // never assert one the exact computation rejects: every candidate is
    // verified against true shingle sets at the same threshold. The exact
    // generator (d02) blocks by language as a scale device, the hash
    // buckets are lang-agnostic — so the comparable universe is the
    // same-lang restriction (cross-lang copies are extra LSH recall, not
    // false positives).
    val dir = sf("sf0.001")
    val langs = graft.Tables.t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"))
    val lshSameLang = Extensions.lshPairs(spark, dir)
      .join(langs.select(col("doc_id").as("doc_a"), col("lang").as("la")), "doc_a")
      .join(langs.select(col("doc_id").as("doc_b"), col("lang").as("lb")), "doc_b")
      .filter(col("la") === col("lb"))
      .select("doc_a", "doc_b")
    val exact = Extensions.dedupNgramJaccard(spark, dir)
      .select("doc_a", "doc_b")
    assert(
      lshSameLang.join(exact, Seq("doc_a", "doc_b"), "left_anti").count() == 0L,
      "lshPairs contains a same-lang pair the exact computation rejects")
  }

  test("s05 is a subset of exact d05 pairs with recall above the floor") {
    // Same quantized vectors, same threshold: cell blocking may only MISS
    // pairs (split across cells), never invent them — and the miss rate
    // is quantified against the exact pair set.
    val dir = sf("sf0.001")
    val s05 = Extensions.semdedupCells(spark, dir)
      .select("vec_a", "vec_b").persist()
    val d05 = Extensions.dedupEmbedding(spark, dir)
      .select("vec_a", "vec_b").persist()
    try {
      assert(s05.join(d05, Seq("vec_a", "vec_b"), "left_anti").count() == 0L,
        "s05 emitted a pair the exact computation rejects")
      val hit = d05.join(s05, Seq("vec_a", "vec_b"), "left_semi").count()
      val total = d05.count()
      assert(total > 0, "no exact pairs at this SF — recall undefined")
      val recall = hit.toDouble / total
      assert(recall >= 0.6,
        f"s05 recall $recall%.3f below floor 0.6 ($hit/$total)")
    } finally { s05.unpersist(); d05.unpersist() }
  }

  test("d06 clusters the LSH graph (labels match CC of lshPairs)") {
    val dir = sf("sf0.001")
    val fromOp = Extensions.dedupClusters(spark, dir)
    val direct = Extensions.connectedComponents(
      Extensions.lshPairs(spark, dir))
    assertSameRows(fromOp, direct, "d06 vs CC(lshPairs)")
  }

  test("d09/t16 Bloom memos catch a contaminated append with no invalidate call") {
    // Both sketches (d09's over the train grams, t16's over the test
    // grams) are memoized over the documents table's snapshot: a sketch
    // kept across an append would silently drop the NEW grams below the
    // exact join (Bloom false negatives = missed contamination). Plant,
    // in a copy of sf0.001, one train-split carrier of a clean test
    // doc's text and one test-split carrier of a clean train doc's text
    // (the split is a hash of the text, so a suffix picks it).
    val src = sf("sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("graft-bloomgrow").toString
    val docs = Tables.t(spark, src, "documents")
    docs.write.parquet(s"$dir/documents.parquet")
    val d09 = Extensions.contamination(spark, dir)
      .select("doc_id").as[Long].collect().toSet
    val t16 = Extensions.contaminatedTrainDocs(spark, dir)
      .select("doc_id").as[Long].collect().toSet
    def bucket(t: String): Long = graft.functions.H32Digest.h32(
      org.apache.spark.unsafe.types.UTF8String.fromString(t)) % 100
    val texts = docs.select("doc_id", "text").as[(Long, String)].collect()
      .sortBy(-_._2.length)
    val (testId, testText) =
      texts.find { case (id, t) => bucket(t) >= 90 && !d09(id) }.get
    val (trainId, trainText) =
      texts.find { case (id, t) => bucket(t) < 80 && !t16(id) }.get
    def carrier(text: String, inSplit: Long => Boolean): String =
      Iterator.from(0).map(i => s"$text zq$i").find(c => inSplit(bucket(c))).get
    def planted(id: Long, text: String) =
      docs.filter(col("doc_id") === trainId)
        .withColumn("doc_id", lit(id)).withColumn("text", lit(text))
    planted(900001L, carrier(testText, _ < 80))
      .unionByName(planted(900002L, carrier(trainText, _ >= 90)))
      .write.mode("append").parquet(s"$dir/documents.parquet")
    assert(Extensions.contamination(spark, dir)
        .filter(col("doc_id") === testId).count() == 1,
      "d09 missed a test doc whose grams a new train doc carries — stale sketch")
    assert(Extensions.contaminatedTrainDocs(spark, dir)
        .filter(col("doc_id") === trainId).count() == 1,
      "t16 missed a train doc whose grams a new test doc carries — stale sketch")
  }

  test("d12 at 64 bits is a small precise subset of the 32-bit pair flood") {
    // Doubling the signature width squares the per-bit chance-collision
    // odds: the 32-bit radius-3 pairing floods (short same-vocabulary
    // docs collide constantly — the round-6 precision note), the 64-bit
    // production setting keeps an order of magnitude fewer pairs. Both
    // sets are exact within their own radius, so this is a PRECISION
    // claim (agreement with d03's verified near-dups), not recall.
    val dir = sf("sf0.01")
    val p32 = Extensions.simhashPairsAt(spark, dir, bits = 32, radius = 3)
      .select("doc_a", "doc_b").persist()
    val p64 = Extensions.dedupSimhashPairs(spark, dir)
      .select("doc_a", "doc_b").persist()
    try {
      val (n32, n64) = (p32.count(), p64.count())
      assert(n64 * 10 <= n32,
        s"64-bit pairing kept $n64 of $n32 32-bit pairs — no precision gain")
      // d03's LSH+verified 0.8-Jaccard near-dups: the 64-bit pair count
      // must land within the same order of magnitude (the 32-bit flood
      // is ~20x d03's set at this SF).
      val d03 = Extensions.dedupMinhashLsh(spark, dir).count()
      assert(n64 <= 3 * d03 + 10,
        s"64-bit pair count $n64 still floods vs d03's verified $d03")
    } finally { p32.unpersist(); p64.unpersist() }
  }

  test("cluster-label memo serves d07's consumers; the snapshot key sees growth") {
    // d07/t13/t16 read the memoized label table (the Bloom/ANN-index
    // storage-for-recompute pattern applied to the CC fixpoint); the
    // memo is keyed by the documents table's snapshot, so after growth
    // the resolution must cover the new documents with no invalidate
    // call.
    val src = sf("sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("graft-clmemo").toString
    val docs = Tables.t(spark, src, "documents").select("doc_id", "text", "lang")
    docs.filter(col("doc_id") % 2 === 0).write.mode("append")
      .parquet(s"$dir/documents.parquet")
    val before = Extensions.canonicalCorpus(spark, dir).count()
    docs.filter(col("doc_id") % 2 === 1).write.mode("append")
      .parquet(s"$dir/documents.parquet")
    val after = Extensions.canonicalCorpus(spark, dir)
    assert(after.count() > before,
      "post-growth resolution must cover the grown corpus")
    // and equals a from-scratch resolution over fresh clusters
    assertSameRows(after,
      Extensions.canonicalResolution(
        Tables.t(spark, dir, "documents").select("doc_id", "lang"),
        Extensions.dedupClusters(spark, dir)),
      "memoized-label resolution vs fresh-cluster resolution")
  }

  test("m04 fingerprint pairs share their window sets (true media near-dups)") {
    // The precision claim behind the media fingerprint: an emitted pair
    // is not a chance signature collision but a pair of payloads that
    // genuinely share their byte stream. Recompute each doc's distinct
    // 64-byte/stride-16 window set and require high containment for
    // EVERY emitted pair (measured on this corpus: every pair shares
    // its entire window set).
    val dir = sf("sf0.01")
    val pairs = Extensions.mediaPhashPairs(spark, dir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length >= 10,
      s"expected real fingerprint signal on sf0.01, got ${pairs.length} pairs")
    val winSets = Tables.t(spark, dir, "documents")
      .filter(length(col("text")) >= 64)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, CAST((length(text) - 64) div 16 AS INT)),
          |          k -> substring(text, CAST(k * 16 + 1 AS INT), 64))"""
          .stripMargin)).as("win"))
      .groupBy("doc_id").agg(collect_set(col("win")).as("wins"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    pairs.foreach { case (a, b) =>
      val (wa, wb) = (winSets(a), winSets(b))
      val containment =
        wa.intersect(wb).size.toDouble / math.min(wa.size, wb.size)
      assert(containment >= 0.8,
        f"pair ($a,$b) shares only $containment%.2f of its windows — " +
          "chance collision, not a near-dup")
    }
  }

  test("planted mega-bucket: skew-safe banded join ≡ unsalted, hot key split") {
    import spark.implicits._
    // The realistic 100 TB failure for every banded pair join
    // (d03/d12/m04/m05): one dominant template sends its whole cohort
    // into one (band, bkey) bucket, whose |n|² comparison runs in ONE
    // task. 400 docs share a signature; 200 background docs spread.
    val hot = (0L until 400L).map(i => (i, 0x0123456789ABCDEFL))
    val bg = (400L until 600L).map(i => (i, i * -0x61c8864680b583ebL))
    val sig = (hot ++ bg).toDF("doc_id", "sig")
    val un = Extensions.hammingPairsOf(sig, 64, 3)
    val sa = Extensions.hammingPairsSkewSafe(sig, 64, 3, salt = 8)
    // Correctness: the salted variant is row-for-row the same pair set
    // (each unordered pair meets exactly once — the probe row's salt is
    // deterministic, exactly one build replica matches).
    assertSameRows(sa, un, "skew-safe vs unsalted pairs")
    assert(un.count() >= 400L * 399 / 2,
      "planted template must actually produce the quadratic pair set")
    // The skew bound: probe-side rows per shuffle key — the per-task
    // work driver — drop by the salt factor (2× slack for hash spread).
    val banded = Extensions.bandedFingerprints(sig, 64, 3)
    val unMax = banded.groupBy("band", "bkey").count()
      .agg(max("count")).as[Long].head()
    val saMax = banded
      .withColumn("__salt", pmod(xxhash64(col("doc_id")), lit(8L)))
      .groupBy("band", "bkey", "__salt").count()
      .agg(max("count")).as[Long].head()
    assert(unMax >= 400, s"hot bucket not planted: $unMax")
    assert(saMax * 4 <= unMax,
      s"salting must split the hot key: max group $saMax vs unsalted $unMax")
  }

  test("planted template corpus: salted LSH candidates ≡ unsalted") {
    import spark.implicits._
    // The MinHash twin of the mega-bucket case: 300 identical documents
    // collapse to one signature per band; the candidate self-join's hot
    // key must split under the salt without changing the candidate set.
    val docsF = ((0L until 300L).map(i =>
        (i, "the quick brown fox jumps over the lazy dog again", "en")) ++
      (300L until 400L).map(i =>
        (i, s"unique document number $i with its own trailing words ${i * 7}",
          "en"))).toDF("doc_id", "text", "lang")
    val sh = Extensions.shinglesOfDocs(docsF)
    val banded = Extensions.bandedSignatures(sh)
    val unsalted = banded.as("a")
      .join(banded.as("b"), Extensions.bandEq &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val salted = Extensions.lshCandidatesSkewSafe(sh, salt = 8)
    assertSameRows(salted, unsalted, "salted vs unsalted LSH candidates")
    assert(unsalted.count() >= 300L * 299 / 2,
      "planted template must flood one signature bucket")
    val sigKeys = Seq("band", "b0", "b1", "b2", "b3")
    val unMax = banded.groupBy(sigKeys.map(col): _*).count()
      .agg(max("count")).as[Long].head()
    val saMax = banded
      .withColumn("__salt", pmod(xxhash64(col("doc_id")), lit(8L)))
      .groupBy((sigKeys :+ "__salt").map(col): _*).count()
      .agg(max("count")).as[Long].head()
    assert(unMax >= 300, s"hot signature bucket not planted: $unMax")
    assert(saMax * 4 <= unMax,
      s"salting must split the hot key: $saMax vs $unMax")
  }

  test("native minhash kernel ≡ the aggregate signature form, incl. edge docs") {
    import spark.implicits._
    // Real corpus plus the tokenization edge cases the byte-scan kernel
    // must reproduce exactly: <3 tokens (no signature), consecutive
    // spaces (empty tokens kept — split limit -1), trailing space
    // (trailing empty token kept), and multi-byte UTF-8.
    val edge = Seq(
      (900001L, "", "en"), (900002L, "a", "en"), (900003L, "a b", "en"),
      (900004L, "a b c", "en"), (900005L, "a  b  c d", "en"),
      (900006L, "a b c ", "en"), (900007L, "héllo wörld déjà vu ☃", "en"),
      (900008L, "x x x x x x", "en"))
      .toDF("doc_id", "text", "lang")
    val d = Tables.t(spark, sf("sf0.001"), "documents")
      .select("doc_id", "text", "lang").unionByName(edge)
    assertSameRows(
      Extensions.bandedSignaturesOfDocs(d),
      Extensions.bandedSignatures(Extensions.shinglesOfDocsExploded(d)),
      "native banded signatures vs exploded-aggregate form")
  }

  test("pair-grain jaccard kernel ≡ the frame-grain verify on LSH candidates") {
    import spark.implicits._
    val src = sf("sf0.001")
    // Every LSH candidate pair of the corpus, verified both ways.
    val d03 = Extensions.dedupMinhashLsh(spark, src)
    val sh = Extensions.shinglesOfDocsExploded(
      Tables.t(spark, src, "documents").select("doc_id", "text", "lang"))
    assertSameRows(d03,
      Extensions.verifiedJaccard(
        d03.select("doc_a", "doc_b"), sh, "doc_a", "doc_b"),
      "kernel-verified jaccard vs frame-grain verifiedJaccard")
    assert(d03.count() > 0, "no candidates — equivalence test is vacuous")
    // Duplicate shingles inside a doc must not skew the DISTINCT-set
    // arithmetic (the kernel dedups byte slices, not occurrences).
    val pairs = Seq((1L, "p q r p q r p q r", "en"),
      (2L, "p q r s t u", "en")).toDF("doc_id", "text", "lang")
    val kernel = pairs.as("x").filter(col("doc_id") === 1L)
      .crossJoin(pairs.as("y").filter(col("doc_id") === 2L))
      .select(graft.functions.ShingleJaccardPpm(
        col("x.text"), col("y.text")).as("j"))
      .head().getLong(0)
    // doc1 distinct shingles: {p q r, q r p, r p q} (7 windows, 3
    // distinct); doc2: {p q r, q r s, r s t, s t u}; common = 1,
    // union = 6 -> 166666 ppm.
    assert(kernel == 166666L, s"duplicate-shingle arithmetic: $kernel")
  }

  test("long-doc routing: every threshold split of pairJaccard agrees") {
    import spark.implicits._
    // Mixed-length corpus: two near-dup long docs (> default threshold),
    // two near-dup short docs, a cross-length near-dup, and a singleton.
    // Near-dups by one-token mutation so jaccard lands strictly between
    // 0 and 1 (arithmetic differences between routes would show).
    def big(seed: Int, mut: Boolean): String = {
      val toks = (0 until 3000).map(i => s"tok${(i * 7 + seed) % 97}w$i")
      (if (mut) toks.updated(123, "MUT") else toks).mkString(" ")
    }
    val shortA = (0 until 40).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, big(0, mut = false), "en"),
      (2L, big(0, mut = true), "en"),           // long-long near-dup
      (3L, shortA, "en"),
      (4L, shortA.replace("s7 ", "zz "), "en"), // short-short near-dup
      (5L, big(1, mut = false) + " " + shortA, "en"), // long, overlaps 3
      (6L, "w x y z only once here", "en")).toDF("doc_id", "text", "lang")
    assert(docs.filter(octet_length(col("text")) >
      Extensions.LongDocVerifyBytes).count() >= 3, "fixture docs too short")
    val texts = docs.select("doc_id", "text")
    val ids = docs.select("doc_id")
    val cand = ids.toDF("doc_a").crossJoin(ids.toDF("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
    // (longBytes 0, minMult 0) = every pair on the frame-grain route;
    // longBytes MaxValue = every pair on the kernel route; minMult 1
    // splits the corpus on length alone (every long doc hot); the
    // DEFAULT keeps these k=5 pairs on the kernel (round 16: below
    // LongDocFrameMinMult the kernel measured faster at every length
    // up to 256 KiB — multiplicity, not length, is the crossover
    // axis). All four must agree row-for-row — the routing pin.
    val allFrame = Extensions.pairJaccard(cand, texts, "doc_a", "doc_b",
      longBytes = 0L, frameMinMult = 0L)
    val allKernel = Extensions.pairJaccard(cand, texts, "doc_a", "doc_b",
      longBytes = Long.MaxValue)
    val routed = Extensions.pairJaccard(cand, texts, "doc_a", "doc_b")
    val routedHot = Extensions.pairJaccard(cand, texts, "doc_a", "doc_b",
      frameMinMult = 1L)
    assertSameRows(routed, allKernel, "routed vs all-kernel")
    assertSameRows(routed, allFrame, "routed vs all-frame-grain")
    assertSameRows(routedHot, allFrame, "hot-split routed vs all-frame-grain")
    assert(routed.count() == 15, "every candidate pair must verify")
    // The hot-split plan carries BOTH branches: the kernel verify and
    // the frame-grain branch (whose shingle source is materialized as
    // an eager checkpoint, so it surfaces as a LogicalRDD under the
    // Union rather than as distinct_grams text).
    val mixedPlan = routedHot.queryExecution.optimizedPlan.toString
    assert(mixedPlan.contains("shingle_jaccard_ppm") &&
      mixedPlan.contains("Union"),
      s"hot-split routed plan lost a branch:\n$mixedPlan")
    Seq(allFrame, allKernel, routed, routedHot)
      .foreach(Extensions.freeCkptFresh)
    // ...and for an ATTESTED ALL-SHORT corpus the routing collapses:
    // d03's plan at sf0.001 is the PURE kernel plan — no lens joins, no
    // empty frame-grain branch (the always-routed form's extra stages
    // measurably doubled d03/d10 at bench grain).
    val d03short = Extensions.dedupMinhashLsh(spark, sf("sf0.001"))
    val shortPlan = d03short.queryExecution.optimizedPlan.toString
    assert(!shortPlan.contains("distinct_grams"),
      s"all-short corpus still pays the long branch:\n$shortPlan")
    assert(shortPlan.contains("shingle_jaccard_ppm"))
    assert(d03short.count() > 0)
  }

  test("d16 fixture routes books through the frame path; strategies agree") {
    // The standing long-doc coverage row (VERDICT r16 #4): the
    // synthesized corpus must (a) actually contain books over the
    // length threshold, (b) put them in >= LongDocFrameMinMult
    // candidate pairs so the production routing FIRES — not just
    // exist, and (c) verify identically on all three strategies.
    val dir = sf("sf0.001")
    val corpus = Extensions.longdocFixtureCorpus(spark, dir)
    val books = corpus.filter(col("doc_id") >= 10000000L)
    assert(books.count() == 96, "6 seeds x 16 variants at sf0.001")
    assert(books.filter(octet_length(col("text")) <=
      Extensions.LongDocVerifyBytes).isEmpty, "every book must be long")
    // Census at data grain, the exact routing condition: candidate-pair
    // multiplicity of the long docs. Most books must clear the dial —
    // a fixture that only grazes it would flap with corpus drift.
    val banded = Extensions.bandedSignaturesOfDocs(corpus)
    val cand = banded.as("a")
      .join(banded.as("b"),
        Extensions.bandEq && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val hot = cand.select(col("doc_a").as("doc_id"))
      .unionByName(cand.select(col("doc_b").as("doc_id")))
      .filter(col("doc_id") >= 10000000L)
      .groupBy("doc_id").count()
      .filter(col("count") >= Extensions.LongDocFrameMinMult)
      .count()
    assert(hot >= 80, s"only $hot of 96 books clear the multiplicity dial")
    // All three strategies row-identical; the routed plan carries both
    // branches (kernel verify + the materialized frame branch's Union).
    val routed = Extensions.dedupLongdocRoutedMode(spark, dir, None)
    val kernel = Extensions.dedupLongdocRoutedMode(spark, dir, Some(false))
    val frame = Extensions.dedupLongdocRoutedMode(spark, dir, Some(true))
    assertSameRows(routed, kernel, "d16 routed vs all-kernel")
    assertSameRows(routed, frame, "d16 routed vs all-frame")
    val plan = routed.queryExecution.optimizedPlan.toString
    assert(plan.contains("shingle_jaccard_ppm") && plan.contains("Union"),
      s"d16 routed plan lost a branch:\n$plan")
    Seq(corpus, routed, kernel, frame).foreach(Extensions.freeCkptFresh)
  }

  test("native simhash kernel ≡ the aggregate form at both widths") {
    val src = sf("sf0.001")
    for (bits <- Seq(32, 64))
      assertSameRows(
        Extensions.simhashSig(spark, src, bits),
        Extensions.simhashSigAgg(spark, src, bits),
        s"native simhash vs exploded-aggregate form at $bits bits")
  }

  test("bit-parallel levenshtein ≡ the built-in on random/unicode/long strings") {
    import spark.implicits._
    val rnd = new scala.util.Random(421)
    val alphabets = Seq("ab", "abcde", "abcdefghij xyz", "αβγδé☃汉字")
    def randStr(maxLen: Int): String = {
      val alpha = alphabets(rnd.nextInt(alphabets.length))
      val chars = alpha.toCharArray // NOTE: surrogate-free alphabets here
      (0 until rnd.nextInt(maxLen + 1))
        .map(_ => chars(rnd.nextInt(chars.length))).mkString
    }
    val pairs = (Seq(("", ""), ("", "abc"), ("abc", ""),
      ("☃汉", "汉☃"), ("a" * 80, "a" * 79 + "b"), // >64 cp fallback path
      ("exact same", "exact same")) ++
      (1 to 400).map(_ => (randStr(24), randStr(24))))
      .toDF("a", "b")
    val diff = pairs.select(
        org.apache.spark.sql.functions.levenshtein(col("a"), col("b"))
          .as("builtin"),
        graft.functions.LevenshteinBp(col("a"), col("b")).as("bp"))
      .filter(col("builtin") =!= col("bp"))
    assert(diff.count() == 0,
      s"kernel deviates from built-in: ${diff.take(5).toSeq}")
  }

  test("d14 size-bucket block is lossless: ≡ d02 row-for-row") {
    // The block is a NECESSARY condition of J ≥ 0.8 (size ratio within
    // [0.8, 1.25] → same or adjacent log-1.25 bucket), so the
    // job-callable form must equal the quadratic oracle anchor exactly —
    // not within a recall bound. Both the kernel-assisted path (hash-
    // grain candidates + pair-grain string stats) and the retained
    // exploded-frame twin must land on d02's exact rows.
    val dir = sf("sf0.01")
    assertSameRows(
      Extensions.dedupNgramJaccardBlocked(spark, dir),
      Extensions.dedupNgramJaccard(spark, dir),
      "blocked (kernel) Jaccard vs exact d02")
    assertSameRows(
      Extensions.dedupNgramJaccardBlockedFrame(spark, dir),
      Extensions.dedupNgramJaccard(spark, dir),
      "blocked (frame twin) Jaccard vs exact d02")
  }

  test("distinct-gram kernel ≡ the exploded+distinct forms, incl. edge docs") {
    import spark.implicits._
    // Edge docs from the minhash-kernel pin's class: empty text, <n
    // tokens, empty tokens from double/trailing spaces, multi-byte
    // UTF-8, heavy duplicate windows.
    val edge = Seq(
      (900L, "", "en"), (901L, "a", "en"), (902L, "a b", "en"),
      (903L, "a b c", "en"), (904L, "a  b  c  d", "en"),
      (905L, "x y z x y z x y z x y z", "en"),
      (906L, "汉字 αβ ☃ tok 汉字 αβ ☃", "de"),
      (907L, " leading and trailing ", "en"),
      (908L, (1 to 40).map(i => s"w${i % 5}").mkString(" "), "en"))
      .toDF("doc_id", "text", "lang")
    val sfDocs = graft.Tables.t(spark, sf("sf0.001"), "documents")
      .select("doc_id", "text", "lang")
    for (d <- Seq(edge, sfDocs)) {
      assertSameRows(Extensions.shinglesOfDocs(d),
        Extensions.shinglesOfDocsExploded(d),
        "kernel shingles vs exploded+distinct")
      val withBucket = d.select(col("doc_id"), col("text"))
      assertSameRows(Extensions.grams8OfDocs(withBucket),
        Extensions.grams8OfDocsExploded(withBucket),
        "kernel 8-grams vs exploded+distinct")
    }
    // ...and d14's inline distinct count (size of the kernel array)
    // agrees with the exploded form's aggregated count.
    val inline = edge.select(col("doc_id"),
        size(graft.functions.DistinctGrams(col("text"), 3)).cast("long")
          .as("n_sh"))
      .filter(col("n_sh") > 0)
    val counts = Extensions.shinglesOfDocsExploded(edge)
      .groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    assertSameRows(inline, counts, "inline n_sh vs exploded distinct count")
  }
}
