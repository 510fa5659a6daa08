package graft.queries

import graft.Tables
import graft.functions.{DotI64, ImiCells, Portable}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The dedup operator family (d01+) — exact, n-gram Jaccard,
  * MinHash+LSH, SimHash, edit-distance, substring and incremental
  * variants.
  *
  * One mixin of [[Extensions]] (a pure file split of the original
  * single object — every member still resolves on Extensions.type via
  * the self-type; call sites and the query registry are unchanged). */
private[queries] trait ExtDedup { this: Extensions.type =>
  import Portable.{h32, idiv, ppm, P}

  // ------------------------------------------------------------ dedup family

  /** d01: exact dedup by content hash — at 100 TB this is THE cheap first
    * pass: one shuffle on a 128-bit hash, no text comparison. */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("canonical_doc_id"),
        count(lit(1)).as("n_copies"))

  /** d02: n-gram Jaccard near-dup pairs (threshold 0.8), blocked by lang.
    * The shingle self-join is the textbook exact method; its cost is
    * Σ_s |docs(s)|² — the ORACLE ANCHOR of the Jaccard family, kept for
    * verification and never wired into a job. A job that needs the
    * exact semantics calls [[dedupNgramJaccardBlocked]] (same result,
    * lossless size-bucket block); one that can trade exactness for
    * sub-quadratic candidate generation calls d03's LSH. */
  def dedupNgramJaccard(s: SparkSession, dir: String): DataFrame = {
    val sh = shingles(s, dir)
    val cnt = shingleCounts(sh)
    val common = sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") &&
        col("a.lang") === col("b.lang") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common_shingles"))
    common
      .join(cnt.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .join(cnt.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
      .withColumn("jaccard_ppm",
        ppm(col("common_shingles"), col("n_a") + col("n_b") - col("common_shingles")))
      .filter(col("jaccard_ppm") >= 800000)
      .select("doc_a", "doc_b", "common_shingles", "jaccard_ppm")
  }

  /** d14: d02's JOB-CALLABLE form — identical exact-Jaccard output with
    * a LOSSLESS (lang, shingle-count bucket) block folded into the
    * shingle self-join. J(A,B) ≥ 0.8 forces |A|/|B| ∈ [0.8, 1.25]
    * (|A∩B| ≤ min and ≥ t·(|A|+|B|−|A∩B|) ≥ t·max), so only docs in the
    * same or adjacent size bucket (log base 1.25 of the shingle count)
    * can qualify: the per-shingle-group quadratic shrinks to the
    * bucket-pair share — on a corpus of mixed document sizes the bulk of
    * Σ|docs(shingle)|² — while provably losing NO qualifying pair (the
    * oracle is d02's own SQL; DedupSpec pins row-for-row equality too).
    * Blocking is d08's single-sided successor-bucket expansion: the
    * probe side explodes to {b, b+1} and pair order is (bucket, id), so
    * each unordered pair matches exactly once. */
  def dedupNgramJaccardBlocked(s: SparkSession, dir: String): DataFrame = {
    // KERNEL-SOURCED, COUNT-AGGREGATED. Two structures meet here and
    // each gets the shape measurement picked for it:
    //  - Shingle SOURCING is the one-pass distinct-gram kernel with the
    //    distinct-string count carried inline (size of the kernel
    //    array): the exploded form's corpus-wide (doc, shingle)
    //    DISTINCT shuffle, its shingleCounts aggregation, and the THREE
    //    count joins (probe-side bucket derivation + two post-agg
    //    n_a/n_b fetches) are all gone — n_sh rides the rows and the
    //    pair's (n_a, n_b) travel INSIDE the group key (deterministic
    //    per pair, so the key is just wider, never more numerous).
    //  - VERIFICATION stays the count AGGREGATION over the string-grain
    //    self-join — NOT the pair-grain text kernel. Measured (same-host
    //    A/B, BENCH_AB round-15 interim): the kernel-verify variant ran
    //    2.4× SLOWER (2.1 → 5.0 s) because d14's candidates are
    //    common-shingle pairs — Zipf-dense, unlike d03's LSH candidates
    //    which need all four minhash band values equal — so per-pair
    //    text re-hashing pays doc-length × a huge candidate count while
    //    the aggregation pays one counter bump per matched row. The
    //    pair-grain kernel is the near-dup verifier, not the dense-
    //    candidate one; recorded as this round's measured-then-kept
    //    lesson (the round-13 salting precedent).
    val d = docs(s, dir)
    val withG = d.select(col("doc_id"), col("lang"),
        graft.functions.DistinctGrams(col("text"), 3).as("g"))
      .withColumn("n_sh", size(col("g")).cast("long"))
      .filter(col("n_sh") > 0)
      .withColumn("szb",
        floor(log(col("n_sh").cast("double")) / math.log(1.25)).cast("long"))
    val sh = withG.select(col("doc_id"), col("lang"), col("szb"),
      col("n_sh"), explode(col("g")).as("shingle"))
    val probe = sh.withColumn("blk",
      explode(array(col("szb"), col("szb") + 1)))
    probe.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") &&
        col("a.lang") === col("b.lang") &&
        col("a.blk") === col("b.szb") &&
        (col("a.szb") < col("b.szb") || col("a.doc_id") < col("b.doc_id")))
      .groupBy(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
        when(col("a.doc_id") < col("b.doc_id"), col("a.n_sh"))
          .otherwise(col("b.n_sh")).as("n_a"),
        when(col("a.doc_id") < col("b.doc_id"), col("b.n_sh"))
          .otherwise(col("a.n_sh")).as("n_b"))
      .agg(count(lit(1)).as("common_shingles"))
      .withColumn("jaccard_ppm",
        ppm(col("common_shingles"), col("n_a") + col("n_b") - col("common_shingles")))
      .filter(col("jaccard_ppm") >= 800000)
      .select("doc_a", "doc_b", "common_shingles", "jaccard_ppm")
  }

  /** The exploded-frame form of [[dedupNgramJaccardBlocked]] — retained
    * as the kernel path's independent spec anchor (DedupSpec pins
    * row-for-row equality on sf data and planted fixtures), and the
    * route a book-heavy corpus takes (each doc's shingles paid once at
    * frame grain, where the pair-grain kernel pays doc-length per
    * candidate — the pairJaccard routing rationale). */
  private[graft] def dedupNgramJaccardBlockedFrame(s: SparkSession,
                                                   dir: String): DataFrame = {
    val sh = shingles(s, dir)
    val cnt = shingleCounts(sh)
    val withB = sh.join(cnt, "doc_id").withColumn("szb",
      floor(log(col("n_sh").cast("double")) / math.log(1.25)).cast("long"))
    val probe = withB.withColumn("blk",
      explode(array(col("szb"), col("szb") + 1)))
    val common = probe.as("a").join(withB.as("b"),
        col("a.shingle") === col("b.shingle") &&
        col("a.lang") === col("b.lang") &&
        col("a.blk") === col("b.szb") &&
        (col("a.szb") < col("b.szb") || col("a.doc_id") < col("b.doc_id")))
      .groupBy(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .agg(count(lit(1)).as("common_shingles"))
    common
      .join(cnt.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .join(cnt.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
      .withColumn("jaccard_ppm",
        ppm(col("common_shingles"), col("n_a") + col("n_b") - col("common_shingles")))
      .filter(col("jaccard_ppm") >= 800000)
      .select("doc_a", "doc_b", "common_shingles", "jaccard_ppm")
  }

  /** d03: MinHash (16 perms) + LSH (4 bands × 4 rows) candidate pairs with
    * exact Jaccard verification. The band joins are plain equi-joins on the
    * 4-minhash signature — the scalable shape: shuffle by band key, never
    * all-pairs. */
  /** Band-exploded MinHash signature table (16 perms as 4 bands × 4
    * rows): all 16 permutation minima come out of ONE hash aggregation
    * over the shingle rows (map-side combinable) instead of a 16×
    * row-multiplying cross join — same values, 1/16th the shuffled rows.
    * Shared by d03 (full self-join) and d10 (delta-vs-corpus join). */
  private[graft] def bandedSignatures(sh: DataFrame): DataFrame = {
    val shh = sh.withColumn("h", h32(col("shingle")))
    val sigCols = (0 until 16).map { k =>
      min((col("h") * lit(2L * k + 1) + lit(1000003L * k)) % lit(P)).as(s"m$k")
    }
    val sig = shh.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
    (0 until 4).map { b =>
      sig.select(lit(b).as("band"), col("doc_id"),
        col(s"m${4 * b}").as("b0"), col(s"m${4 * b + 1}").as("b1"),
        col(s"m${4 * b + 2}").as("b2"), col(s"m${4 * b + 3}").as("b3"))
    }.reduce(_ union _)
  }

  /** [[bandedSignatures]] computed from the DOCUMENT frame by the native
    * one-pass kernel (functions.MinhashSig) instead of the exploded
    * shingle aggregation: per doc it is one generated-code call over
    * the raw text — no corpus×shingles rows, no distinct shuffle (min
    * is duplicate-insensitive), no 16-column hash aggregation. Same
    * signatures row-for-row (DedupSpec pins it): the kernel hashes the
    * identical 3-token byte slices with the identical per-permutation
    * transform. Docs with <3 tokens have no shingles and thus no rows,
    * matching the aggregate form. */
  private[graft] def bandedSignaturesOfDocs(d: DataFrame): DataFrame = {
    val sig = d.select(col("doc_id"),
        graft.functions.MinhashSig(col("text")).as("ms"))
      .filter(size(col("ms")) > 0)
    (0 until 4).map { b =>
      sig.select(lit(b).as("band"), col("doc_id"),
        col("ms")(4 * b).as("b0"), col("ms")(4 * b + 1).as("b1"),
        col("ms")(4 * b + 2).as("b2"), col("ms")(4 * b + 3).as("b3"))
    }.reduce(_ union _)
  }

  private[graft] val bandEq = Seq("band", "b0", "b1", "b2", "b3")
    .map(c => col(s"a.$c") === col(s"b.$c")).reduce(_ && _)

  /** The LSH band join's skew dial — [[hammingPairsSkewSafe]]'s twin for
    * the MinHash family (d03/d10/StreamingDedup shuffle on the same
    * (band, signature) keys and share the same one-dominant-template hot
    * bucket at 100 TB): deterministic doc-hash salt on the probe side,
    * build side replicated `salt`×, every unordered candidate still
    * generated exactly once. Emits at CANDIDATE grain (doc_a < doc_b,
    * distinct) — feed [[verifiedJaccard]] exactly like the unsalted
    * path. */
  private[graft] def lshCandidatesSkewSafe(sh: DataFrame,
                                           salt: Int = 16): DataFrame = {
    val banded = bandedSignatures(sh)
    val sigKeys = Seq("band", "b0", "b1", "b2", "b3")
    val a = banded.select((sigKeys.map(col) :+
        col("doc_id").as("id_a")): _*)
      .withColumn("__salt",
        pmod(xxhash64(col("id_a")), lit(salt.toLong)).cast("int"))
    val b = banded.select((sigKeys.map(col) :+
        col("doc_id").as("id_b")): _*)
      .crossJoin(sh.sparkSession.range(0, salt)
        .select(col("id").cast("int").as("__salt")))
    a.join(b.hint("shuffle_hash"), sigKeys :+ "__salt")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      .distinct()
  }

  /** Byte threshold above which a document is a LONG-ROUTE CANDIDATE —
    * the floor under the frame-grain verify: below it the row-local
    * kernel always wins (collision counts bound the re-hash; the
    * pre-round-15 frame form measurably doubled all-short d03/d10).
    * 16 KiB ≈ a few thousand tokens: comfortably above the web-document
    * median. Length alone does NOT route a pair, though — see
    * [[LongDocFrameMinMult]]: round 16's planted-corpus measurement
    * showed the kernel beating the frame path 1.6-2.3× on 32-256 KiB
    * books at low candidate multiplicity, because BOTH paths are linear
    * in text length (kernel: k × len hashing; frame: len shingled once
    * + join machinery) and the frame's per-byte constant is higher —
    * length cancels out of the crossover, multiplicity doesn't. */
  private[graft] val LongDocVerifyBytes = 16384

  /** Candidate-multiplicity threshold for the frame route: a long doc's
    * pairs verify frame-grain only when the doc sits in at least this
    * many candidate pairs (the hot-template regime — k × len re-hash
    * compounds, pay-len-once wins), or when the doc exceeds
    * [[HugeDocVerifyBytes]] outright. Calibration history: round 16
    * measured k ≈ 4 (kernel wins ~1.7×) and k ≈ 42 (frame wins) and
    * split the difference at 12; the round-17 mid-regime corpus
    * (k ≈ 12) showed the frame path ALREADY winning there (4.12 vs
    * kernel 4.45 s) while a dial AT the corpus's multiplicity made the
    * routed plan straddle it — part of each family on each route,
    * paying both machineries (6.84 s, worse than either pure form).
    * The crossover therefore sits in (4, 12); 8 centers the dial in
    * that bracket AND keeps measured whole-corpus regimes (k≈4 all
    * kernel, k≈12 and k≈42 all frame) away from the straddle zone. */
  private[graft] val LongDocFrameMinMult = 8L

  /** Census-size cap for the DRIVER-READ hot-doc set (the q36
    * hot-census pattern at the routing dial): the census output is
    * doc-grain — one row per long document in ≥ [[LongDocFrameMinMult]]
    * candidate pairs — so in any real corpus it is the hot-template
    * tail, orders below the corpus. Under the cap the flag joins
    * broadcast a driver-built local relation (≤ 64Ki longs ≈ 0.5 MB of
    * plan) instead of shuffling against a checkpointed frame, and the
    * empty-census common case costs ONE collect job instead of
    * checkpoint + isEmpty. A census over the cap falls back to the
    * checkpointed distributed form — same rows, same routing. */
  private[graft] val HotDocDriverCap = 65536

  /** Absolute length override: above ~1 MiB a text stops being a
    * reasonable SHUFFLE ROW regardless of multiplicity — the kernel
    * path ships both full texts through the candidate shuffle per pair,
    * and multi-MB rows are a task-memory and row-size hazard before
    * they are a CPU one. Such docs always verify frame-grain, where
    * their text never enters a pair-grain join. */
  private[graft] val HugeDocVerifyBytes = 1048576L

  /** Memoized "does this corpus contain any long doc" probe — the q36
    * hot-census pattern at the routing dial: ONE driver-side
    * limit-1 read at plan construction (first invocation per memo key;
    * a parquet scan that short-circuits at the first long text), so an
    * all-short corpus — the common web-document case — pays ZERO
    * routing overhead: [[pairJaccard]]'s plan is then literally the
    * pure kernel plan (no lens joins, no empty frame-grain branch; the
    * bench showed the always-routed form's extra stages cost d03/d10
    * ~double at sf0.1). `textsTable` names the parquet table `texts`
    * reads IN FULL; when given, the probe is memoized over that table's
    * snapshot ([[graft.Snapshot]]), so a corpus that gains its first
    * long doc re-probes. */
  private[graft] def hasLongDocs(texts: DataFrame, longBytes: Long,
                                 textsTable: Option[String]): Boolean = {
    def probe: Boolean =
      !texts.filter(octet_length(col("text")) > longBytes).limit(1).isEmpty
    textsTable match {
      case Some(t) =>
        graft.Snapshot.memo(texts.sparkSession, s"hasLongDocs#$longBytes",
          Seq(t))(probe)
      case None => probe
    }
  }

  /** Pair-grain exact-Jaccard verification with LONG-DOC ROUTING — the
    * shared verify tail of d03, d10, and the streaming dedup cycle.
    * When the corpus is attested all-short ([[hasLongDocs]] memo) the
    * routed plan collapses to the pure kernel plan. Otherwise
    * candidates are first flagged by a NARROW (id, is-long) join — full
    * texts never ride a shuffle just to be measured — then split:
    *
    *  - by default a pair verifies row-locally via the
    *    [[graft.functions.ShingleJaccardPpm]] kernel (one call per
    *    pair, no corpus-grain shuffles);
    *  - a pair routes to the retained frame-grain [[verifiedJaccard]]
    *    only when EITHER side is a long doc IN THE HOT-CLUSTER REGIME —
    *    over [[LongDocVerifyBytes]] AND in ≥ [[LongDocFrameMinMult]]
    *    candidate pairs (the multiplicity census is one agg over the
    *    materialized candidate frame) — or over [[HugeDocVerifyBytes]]
    *    outright. The frame path pays each such document's shingle set
    *    ONCE (shingles only of the long-route participants — a
    *    key-grain semi-join, exactly the case the verifiedJaccard
    *    scaladoc carves out), and those texts never enter a pair-grain
    *    join at all.
    *
    * Identical output on both routes (DedupSpec pins a mixed-length
    * corpus): on the candidate domain every doc has ≥ 1 shingle (it has
    * a signature by construction), where kernel and frame arithmetic
    * agree exactly. `texts` must cover every id in `cand` with
    * (doc_id, text). */
  private[graft] def pairJaccard(cand: DataFrame, texts: DataFrame,
                                 aCol: String, bCol: String,
                                 longBytes: Long = LongDocVerifyBytes,
                                 textsTable: Option[String] = None,
                                 knownHasLong: Option[Boolean] = None,
                                 frameMinMult: Long = LongDocFrameMinMult)
      : DataFrame = {
    // knownHasLong: callers whose `texts` lineage already contains the
    // candidate join (the streaming cycle's partner fetch) probe their
    // CHEAP constituents themselves — probing `texts` here would
    // execute that join twice.
    if (!knownHasLong.getOrElse(hasLongDocs(texts, longBytes, textsTable)))
      return cand
        .join(texts.select(col("doc_id").as(aCol), col("text").as("__ta")), aCol)
        .join(texts.select(col("doc_id").as(bCol), col("text").as("__tb")), bCol)
        .select(col(aCol), col(bCol),
          graft.functions.ShingleJaccardPpm(col("__ta"), col("__tb"))
            .as("jaccard_ppm"))
    // MATERIALIZED at candidate grain before the fan-out (round-16
    // long-doc bench, LONGDOC_BENCH.md): the routed plan references the
    // candidate frame in the multiplicity census, both verify branches,
    // and the long route's shingle restriction — left lazy, every reference
    // re-executes the whole upstream chain (the LSH self-join, or the
    // streaming cycle's signature probe + corpus-store partner fetch).
    // Measured on the mixed 32-256 KiB book corpus: the streaming
    // cycle's routed verify ran 132 s against the pure kernel's 7 s —
    // nearly all of it repeated subtree execution, not verify
    // arithmetic. `candM` (collision-grain rows) and `longSh` (the
    // long-route participants' distinct shingles — the frame the long
    // route exists to pay ONCE, which "once" must mean materially)
    // both ride the returned frame's lineage, so consumers release
    // them via freeCkptFresh like every other per-invocation
    // checkpoint.
    val candM = cand.localCheckpoint()
    // FRAME-ROUTE CENSUS, per doc: long enough AND in enough candidate
    // pairs (both paths are linear in text length — the kernel pays
    // k × len re-hash, the frame pays len shingled once plus
    // higher-constant join machinery — so length cancels out of the
    // crossover and MULTIPLICITY is the axis; see
    // [[LongDocFrameMinMult]]); or over [[HugeDocVerifyBytes]], where
    // a text stops being a reasonable shuffle row at any k. LENGTH
    // PRE-FILTER FIRST (VERDICT r16 #3): only long docs can route, so
    // the candidate endpoints join against the (selective, broadcast-
    // able) long-id set BEFORE the multiplicity agg — the groupBy then
    // shuffles only long-doc endpoints instead of the whole candidate
    // frame, and a corpus whose long docs are all NON-candidates pays
    // one broadcast and an empty agg, not a full endpoint census. The
    // result is DRIVER-READ (the q36 hot-census pattern): a census
    // that comes back empty — long docs present but none in the
    // hot-cluster regime, the common case — gets the PURE kernel
    // plan, paying the probe but none of the split machinery (measured
    // ~70% over the kernel plan when the split was built uncondition-
    // ally: an eager empty shingle checkpoint plus doubled flag joins).
    val longIds = texts
      .select(col("doc_id"), octet_length(col("text")).cast("long").as("__len"))
      .filter(col("__len") > math.min(longBytes, HugeDocVerifyBytes))
    val census = candM.select(col(aCol).as("doc_id"))
      .unionByName(candM.select(col(bCol).as("doc_id")))
      .join(longIds, "doc_id")
      .groupBy(col("doc_id"), col("__len")).agg(count(lit(1)).as("__k"))
      .filter((col("__len") > longBytes && col("__k") >= frameMinMult) ||
        col("__len") > HugeDocVerifyBytes)
      .select(col("doc_id"))
    // DRIVER-READ (one bounded collect — the probe rows ARE the hot
    // set, the CC-probe pattern): empty census → the pure kernel plan
    // for the price of one job; under [[HotDocDriverCap]] → the flag
    // joins broadcast a local relation (no shuffle, no checkpoint);
    // over the cap → the checkpointed distributed frame, re-reading
    // candM's materialized blocks (bounded — never a source re-run).
    val hotRows = census.limit(HotDocDriverCap + 1).collect()
    if (hotRows.isEmpty) {
      return candM
        .join(texts.select(col("doc_id").as(aCol), col("text").as("__ta")), aCol)
        .join(texts.select(col("doc_id").as(bCol), col("text").as("__tb")), bCol)
        .select(col(aCol), col(bCol),
          graft.functions.ShingleJaccardPpm(col("__ta"), col("__tb"))
            .as("jaccard_ppm"))
    }
    val s = cand.sparkSession
    val frameDocs =
      if (hotRows.length <= HotDocDriverCap) {
        import s.implicits._
        broadcast(hotRows.map(_.getLong(0)).toSeq.toDF("doc_id")
          .withColumn("__f", lit(true)))
      } else
        census.withColumn("__f", lit(true)).localCheckpoint()
    val flagged = candM
      .join(frameDocs.select(col("doc_id").as(aCol), col("__f").as("__la")),
        Seq(aCol), "left")
      .join(frameDocs.select(col("doc_id").as(bCol), col("__f").as("__lb")),
        Seq(bCol), "left")
    val short = flagged
      .filter(coalesce(col("__la"), lit(false)) === false &&
        coalesce(col("__lb"), lit(false)) === false)
      .select(col(aCol), col(bCol))
      .join(texts.select(col("doc_id").as(aCol), col("text").as("__ta")), aCol)
      .join(texts.select(col("doc_id").as(bCol), col("text").as("__tb")), bCol)
      .select(col(aCol), col(bCol),
        graft.functions.ShingleJaccardPpm(col("__ta"), col("__tb"))
          .as("jaccard_ppm"))
    val longCand = flagged
      .filter(coalesce(col("__la"), lit(false)) || coalesce(col("__lb"), lit(false)))
      .select(col(aCol), col(bCol))
    // LONG-ROUTE VERIFY VIA PER-DOC HASHED GRAM SETS (opt round 18,
    // guide §2.3 shuffle keys/hashes instead of payloads). The
    // string-grain frame verify (verifiedJaccard) planned BOTH of its
    // pair joins with the full (doc, shingle) frame as the BUILD side —
    // at sf0.1 two ~873k-row HashedRelation broadcast builds per
    // invocation feeding a 3M-row probe stream and a pair-grain count
    // aggregation (plans/r18/d16_longdoc_routed_before.txt operators
    // 48/53; OptProfile: the verify tail owned ~2.8 s of d16's 4.76 s).
    // Here each long-route participant carries its distinct grams ONCE
    // as a 64-bit-hash array (~8 B/gram vs the exploded form's ~48 B
    // rows), the pair verify is two key-grain joins of the ~|hot docs|
    // array frame onto the candidate pairs, and |A∩B| is a row-local
    // array_intersect — no pair×shingle intermediate, no count shuffle.
    //
    // EXACTNESS BY CONSTRUCTION, not by hash luck: the census below
    // proves xxhash64 injective over every distinct gram of the
    // long-route frame (any two distinct strings sharing a hash flip
    // it); under injectivity |hash(A)∩hash(B)| = |A∩B| for every pair,
    // and n_sh comes from the STRING array's size either way. On a
    // collision (≈ |grams|²/2⁶⁵ — astronomically rare, but the route
    // must be exact, not probably-exact) the verify falls back to the
    // retained string-grain verifiedJaccard, same rows by definition.
    val gSets = texts.join(
        longCand.select(col(aCol).as("doc_id"))
          .unionByName(longCand.select(col(bCol).as("doc_id"))),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        graft.functions.DistinctGrams(col("text"), 3).as("gs"))
      .filter(size(col("gs")) > 0)
      .select(col("doc_id"), col("gs"),
        expr("transform(gs, x -> xxhash64(x))").as("gh"))
      .localCheckpoint()
    val hashInjective = gSets
      .select(explode(col("gs")).as("sh"))
      .groupBy(xxhash64(col("sh")).as("h"))
      .agg(countDistinct(col("sh")).as("nd"))
      .filter(col("nd") > 1L)
      .isEmpty
    val longVerified = if (hashInjective) {
      val sets = gSets.select(col("doc_id"), col("gh"),
        size(col("gs")).cast("long").as("n_sh"))
      longCand
        .join(sets.select(col("doc_id").as(aCol), col("gh").as("__ga"),
          col("n_sh").as("__na")), aCol)
        .join(sets.select(col("doc_id").as(bCol), col("gh").as("__gb"),
          col("n_sh").as("__nb")), bCol)
        .withColumn("__c",
          size(array_intersect(col("__ga"), col("__gb"))).cast("long"))
        .select(col(aCol), col(bCol),
          ppm(col("__c"), col("__na") + col("__nb") - col("__c"))
            .as("jaccard_ppm"))
    } else {
      // Collision fallback: the pre-round-18 string-grain frame verify,
      // its shingle frame recovered from the SAME materialized gram
      // sets (explode ≡ shinglesOfDocs on the semi-joined texts — both
      // are DistinctGrams per doc; lang was blanked there too). gSets'
      // blocks are released once longSh is materialized.
      val longSh = gSets.select(col("doc_id"), lit("").as("lang"),
        explode(col("gs")).as("shingle")).localCheckpoint()
      freeCkptFresh(gSets)
      verifiedJaccard(longCand, longSh, aCol, bCol)
    }
    short.unionByName(longVerified)
  }

  /** d16's verify-strategy dial, mapped onto [[pairJaccard]]'s
    * existing knobs so the plans are exactly the production ones:
    * None = routed (production), Some(false) = always-kernel (corpus
    * attested all-short — every pair through the row-local
    * ShingleJaccardPpm kernel), Some(true) = always-frame (every pair
    * flagged long — the pre-round-15 frame-grain verify). All three are
    * EXACT; DedupSpec pins routed ≡ kernel ≡ frame on d16's fixture
    * through [[dedupLongdocRoutedMode]]. */
  private[graft] def pairJaccardStrategy(cand: DataFrame, texts: DataFrame,
      aCol: String, bCol: String, strategy: Option[Boolean],
      textsTable: Option[String] = None,
      knownHasLong: Option[Boolean] = None): DataFrame =
    strategy match {
      case None =>
        pairJaccard(cand, texts, aCol, bCol, textsTable = textsTable,
          knownHasLong = knownHasLong)
      case Some(false) =>
        pairJaccard(cand, texts, aCol, bCol, knownHasLong = Some(false))
      case Some(true) =>
        pairJaccard(cand, texts, aCol, bCol, longBytes = -1L,
          knownHasLong = Some(true), frameMinMult = 0L)
    }

  def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text")
    // One self-join on (band, 4-minhash signature) over the band-exploded
    // table instead of four separate self-joins: a single shuffle whose
    // identical build/probe exchanges Spark deduplicates (ReuseExchange),
    // where the per-band version shuffled the signature table 8 times.
    // Signatures come from the native per-row kernel and verification
    // runs through [[pairJaccard]]: short-doc pairs verify row-locally
    // (two key-grain joins + one kernel call per candidate — the
    // exploded distinct shingle frame and its three corpus-wide verify
    // joins are gone), long-doc pairs route to the frame-grain path
    // that pays each document's shingles once.
    val banded = bandedSignaturesOfDocs(d)
    val cand = banded.as("a")
      .join(banded.as("b"), bandEq && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    pairJaccard(cand, d, "doc_a", "doc_b",
      textsTable = Some(s"$dir/documents.parquet"))
  }

  /** d16's synthesized BOOK-BEARING corpus — the standing fixture that
    * keeps the long-doc verify routing under bench/oracle coverage
    * every round (VERDICT r16 #4: the driver corpora max out at 577
    * bytes/doc, so without this row the frame route and its
    * materialization discipline had perf evidence only in the manually
    * run long-doc bench, LONGDOC_BENCH.md). Deterministic and
    * ORACLE-REPLICABLE: every
    * token is derived from md5 over a (seed, position, variant) key —
    * the one hash both engines compute byte-identically (the h32
    * portability contract) — so the DuckDB twin regenerates the exact
    * corpus in SQL. Shape: 16-variant families of ~4200-token
    * (~29 KiB > LongDocVerifyBytes) books from every 97th base doc
    * under id 1200 (6 families at sf0.01, 13 at sf0.1), 1% of
    * positions mutated per variant — intra-family Jaccard ≈ 0.89, so
    * nearly all C(16,2) family pairs collide in ≥1 LSH band and each
    * book sits in k ≈ 14 candidate pairs ≥ LongDocFrameMinMult: the
    * frame route FIRES by construction (DedupSpec pins the census
    * non-empty), while every 41st base doc rides along unmodified to
    * keep the short/kernel branch of the split populated too.
    * Materialized (localCheckpoint): the text-generation expression
    * (4200 md5s per book) is referenced by both verify branches and
    * the census — the round-16 fan-out lesson applies to generated
    * corpora exactly as to candidate frames. Returned-frame lineage
    * carries the checkpoint, so consumers release it via the standard
    * freeCkptFresh discipline. */
  private[graft] def longdocFixtureCorpus(s: SparkSession,
                                          dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text")
    val shorts = d.filter(pmod(col("doc_id"), lit(41)) === 0)
    // BASE TOKEN STREAM HOISTED (round-17 measurement: generation owned
    // ~1.4 s of d16's 5.5 s): the base token at position i depends only
    // on (seed, i) — the per-variant form re-derived its md5 16× (once
    // per union branch), and the 16-way union re-scanned the docs
    // parquet per branch. One scan, one base array per seed, variants
    // by narrow explode: per (seed, i, v) only the mutation-decision
    // md5 remains variant-keyed. Bytes are IDENTICAL — same
    // md5 keys, same arithmetic — so the DuckDB twin is untouched.
    val seeds = d.filter(pmod(col("doc_id"), lit(97)) === 0 &&
        col("doc_id") < 1200)
      .select(col("doc_id").as("seed"))
      .withColumn("base", expr(
        """transform(sequence(1, 4200), i ->
          |  cast(pmod(cast(conv(substr(md5(concat(seed, '-', i, '-0-b')), 1, 8), 16, 10) as bigint), 1000000) as string))"""
          .stripMargin))
    // Variants fan out via a narrow explode, NOT a crossJoin: a cross
    // join's size ESTIMATE is the product of its sides' byte sizes,
    // which inflated the checkpointed corpus's stats past the
    // broadcast threshold and flipped pairJaccard's verify-branch text
    // joins from broadcast to sort-merge (plan dump diff, round 17).
    // The explicit repartition spreads generation across tasks: the
    // seed filter otherwise leaves one input partition and serializes
    // the whole generation — AND every downstream consumer of the
    // checkpointed blocks (the minhash kernel over 29 KiB books) —
    // into one task. 208 is the fixture's hard row bound (≤13 seeds ×
    // 16 variants by construction, every SF); hashing ~208 (seed, v)
    // keys into 208 partitions leaves ~1/e of them empty and some
    // holding 2–3 books (ADVICE r17), which is fine — the goal is
    // ~order-of-core-count parallelism, not one-book-per-task — and
    // the explicit count keeps AQE from coalescing the pre-generation
    // rows (tiny until the text projection runs above this exchange)
    // back into one partition.
    val books = seeds
      .select(col("seed"), col("base"),
        explode(expr("sequence(0L, 15L)")).as("v"))
      .repartition(208, col("seed"), col("v"))
      .select(
        (lit(10000000L) + col("seed") * 16 + col("v")).as("doc_id"),
        expr(
          """concat_ws(' ', transform(sequence(1, 4200), i ->
            |  CASE WHEN pmod(cast(conv(substr(md5(concat(seed, '-', i, '-', v, '-m')), 1, 8), 16, 10) as bigint), 100) = 0
            |       THEN concat('m', pmod(cast(conv(substr(md5(concat(seed, '-', i, '-', v, '-x')), 1, 8), 16, 10) as bigint), 100))
            |       ELSE element_at(base, i)
            |  END))""".stripMargin).as("text"))
    shorts.unionByName(books).localCheckpoint()
  }

  def dedupLongdocRouted(s: SparkSession, dir: String): DataFrame =
    dedupLongdocRoutedMode(s, dir, None)

  /** d16's body with the bench strategy dial (DedupSpec pins routed ≡
    * kernel ≡ frame on the fixture). No memo key: the corpus is
    * synthesized per invocation, and the long-doc probe over the
    * materialized frame is a block-read limit-1. */
  private[graft] def dedupLongdocRoutedMode(s: SparkSession, dir: String,
      strategy: Option[Boolean]): DataFrame = {
    val corpus = longdocFixtureCorpus(s, dir)
    val banded = bandedSignaturesOfDocs(corpus)
    val cand = banded.as("a")
      .join(banded.as("b"), bandEq && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    pairJaccardStrategy(cand, corpus, "doc_a", "doc_b", strategy)
  }

  /** Token-frequency SimHash at `bits` width (32 or 64). All signed
    * bit-sums come out of ONE hash aggregation over the (doc, token)
    * counts — `bits` conditional-sum columns instead of a row-multiplying
    * bit cross join (same values, 1/bits the aggregated rows and one
    * less shuffle; at sf0.1 this was a 4× win).
    *
    * Bits beyond 31 come from a SECOND salted 32-bit token hash, not a
    * 64-bit hash: the DuckDB twin's hex→BIGINT conversion cannot carry a
    * sign bit, and two independent md5-derived words are exactly as
    * random as one 64-bit word. Bit 63's power-of-two is Long.MinValue —
    * legal in two's complement on both engines (the disjoint-bit sum
    * is a bitwise OR), but the ORACLE must write it as
    * (-9223372036854775807 - 1): DuckDB refuses both `1 << 63` and the
    * raw negative literal. */
  private[graft] def simhashSig(s: SparkSession, dir: String, bits: Int): DataFrame = {
    require(bits == 32 || bits == 64, s"simhash width $bits")
    // Native per-row kernel (functions.SimhashSig) — the aggregate form
    // it replaces (kept below as the spec's equivalence anchor) paid a
    // tokRows explode, a (doc, token)-count shuffle, and a `bits`-column
    // conditional-sum aggregation per document.
    docs(s, dir).select(col("doc_id"),
      graft.functions.SimhashSig(col("text"), bits).as("simhash"))
  }

  /** The exploded-aggregation form of [[simhashSig]] — retained as the
    * independent implementation DedupSpec pins the kernel against
    * (bit-for-bit, both widths), and as the shape the DuckDB oracle
    * mirrors. */
  private[graft] def simhashSigAgg(s: SparkSession, dir: String,
                                   bits: Int): DataFrame = {
    require(bits == 32 || bits == 64, s"simhash width $bits")
    val tokc = tokRows(s, dir).groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .withColumn("h0", h32(col("tok")))
      .withColumn("h1", h32(concat(lit("w1#"), col("tok"))))
    val bitSums = (0 until bits).map { k =>
      val h = if (k < 32) col("h0") else col("h1")
      sum(col("c") * (shiftright(h, k % 32) % 2 * 2 - 1)).as(s"s$k")
    }
    tokc.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until bits).map(k => when(col(s"s$k") > 0, lit(1L << k)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** d04: 32-bit SimHash per document (the signature table; d12 pairs at
    * the 64-bit production width — see dedupSimhashPairs). */
  def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    simhashSig(s, dir, 32)

  /** SimHash near-dup pairs at `bits` width, Hamming radius ≤ `radius`.
    * Banded pigeonhole join — the d03 band pattern on bit signatures:
    * the signature splits into radius+1 equal blocks, and ≤ radius
    * differing bits cannot touch ALL of them, so at least one block is
    * EQUAL and candidates come from one union'd block-keyed self-join
    * (shuffled by (band, block) — never all-pairs), verified by exact
    * popcount of the XOR. Unlike MinHash banding the pigeonhole is a
    * certainty, not a probability: recall within the Hamming radius is
    * exact.
    *
    * THE BAND COUNT IS THE COST DIAL, AND MINIMUM IS OPTIMAL: radius+1
    * bands is the fewest the pigeonhole allows, which makes each block
    * key as WIDE as possible. At 64 bits / radius 3 that is 4 bands of
    * 16 bits — 65536 buckets per band, expected bucket size < 1 at
    * sf0.1's 50k docs — where a byte-per-band split (8 bands × 256
    * buckets, ~195 docs each) pays Σ|bucket|² ≈ tens of millions of
    * candidate pairs over near-uniform signature bytes: measured 6.5 s
    * vs 1.8 s steady at sf0.1 for the SAME 373 output rows — the
    * pigeonhole guarantee does not depend on the split. Extra bands
    * would only buy probabilistic recall BEYOND the radius, which d12
    * does not claim. Block extraction is
    * (sig >> bandBits·k) & (2^bandBits − 1) — sign-safe at 64 bits on
    * both engines (the arithmetic shift's sign-extension is masked
    * off); the popcount filter is row-local below the pair-grain
    * distinct, so the only pair-grain shuffle carries radius survivors. */
  private[graft] def simhashPairsAt(s: SparkSession, dir: String,
                                    bits: Int, radius: Int): DataFrame =
    hammingPairsOf(simhashSig(s, dir, bits).withColumnRenamed("simhash", "sig"),
      bits, radius)

  /** The banded-pigeonhole Hamming pair join over ANY (doc_id, sig)
    * bit-signature frame — the verification-and-join half of d12,
    * factored out so every fixed-width signature family (token SimHash
    * d12, media perceptual hash m04) shares one join shape.
    *
    * Bands via EXPLODE, not a union of per-band projections: union
    * branches do not share work, so a 4-branch union re-evaluated the
    * signature derivation once PER BAND per join side — after the
    * banding fix this was the remaining dominant cost (measured
    * 3.5 s → 1.8 s at sf0.1 from this alone). The explode is a narrow
    * row fan-out above ONE derivation, and the self-join's two sides
    * then share it through exchange reuse (the d03 pattern). */
  private[graft] def hammingPairsOf(sig: DataFrame,
                                    bits: Int, radius: Int): DataFrame = {
    val banded = bandedFingerprints(sig, bits, radius)
    // SHUFFLE join by construction, not broadcast. Two reasons, one
    // honest measurement: (a) at 100 TB the signature frame outgrows
    // any broadcast threshold, so the shuffle form is the only sound
    // plan — the hint makes the test-scale plan and the scale plan the
    // SAME plan instead of a shape that silently flips at a size
    // boundary; (b) at test scale it is also measurably faster
    // (~0.82 s vs ~0.92 s steady-state for m04 at sf0.1, alternating
    // A/B in one JVM): the broadcast plan pays a driver-side
    // HashedRelation build of the banded frame on every invocation.
    // (Exchange reuse does NOT fire on this self-join either way — the
    // analyzer's right-side re-aliasing keeps the two subtrees from
    // canonicalizing equal — so the signature aggregation runs once
    // per side under both shapes; the delta is the build path alone.)
    banded.as("a")
      .join(banded.as("b").hint("shuffle_hash"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .withColumn("hamming", expr("bit_count(sig_a ^ sig_b)").cast("int"))
      .filter(col("hamming") <= radius)
      .select("doc_a", "doc_b", "hamming")
      .distinct()
      // A corpus with ONE dominant template makes a (band, bkey) bucket
      // hot — its |n|² comparison lands in one task. The skew dial is
      // [[hammingPairsSkewSafe]]: same rows, salted probe side.
  }

  /** d12: SimHash near-dup PAIRS at the PRODUCTION setting — 64-bit
    * signature, Hamming ≤ 3, 4-block pigeonhole (Manku et al.'s
    * near-duplicate web-crawl configuration). Round 6 shipped this at
    * 32 bits and documented the precision cost honestly (725 pairs at
    * sf0.01 — short same-vocabulary documents land within radius 3 of
    * each other constantly on a coarse signature); doubling the width
    * squares the chance-collision odds per bit and DedupSpec pins the
    * measured effect: the 64-bit pair set is a small fraction of the
    * 32-bit one, in line with d03's verified near-dup count. 32-bit
    * remains available as the comparison dial (simhashPairsAt). */
  def dedupSimhashPairs(s: SparkSession, dir: String): DataFrame =
    simhashPairsAt(s, dir, bits = 64, radius = 3)

  /** d05: embedding near-dup pairs by quantized cosine ≥ 0.35. Brute-force
    * all-pairs (exact baseline); s02 is the bucketed scale path. */
  def dedupEmbedding(s: SparkSession, dir: String): DataFrame = {
    val e = quantized(s, dir)
    val a = e.select(col("vec_id").as("vec_a"), col("q").as("qa"), col("s2").as("sa"))
    val b = e.select(col("vec_id").as("vec_b"), col("q").as("qb"), col("s2").as("sb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("dot", dot)
      .withColumn("cos_ppm", cosPpm)
      .filter(col("cos_ppm") >= 350000)
      .select("vec_a", "vec_b", "cos_ppm")
  }

}
