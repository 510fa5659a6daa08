package graft.queries

import graft.Tables
import graft.functions.{DotI64, ImiCells, Portable}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The text-analysis family (t01+) — token stats, quality gates,
  * splits/sampling/packing, novelty, DSIR selection, quantile
  * sketches, and the terminal corpus compositions.
  *
  * One mixin of [[Extensions]] (a pure file split of the original
  * single object — every member still resolves on Extensions.type via
  * the self-type; call sites and the query registry are unchanged). */
private[queries] trait ExtText { this: Extensions.type =>
  import Portable.{h32, idiv, ppm, P}

  // ------------------------------------------------------------ text analysis

  /** t01: token counting — whitespace + regex (BPE-ish) + distinct. */
  def tokenStats(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      length(col("text")).as("n_chars_measured"),
      size(split(col("text"), " ")).as("n_ws_tokens"),
      size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
        .as("n_regex_tokens"),
      size(array_distinct(split(col("text"), " "))).as("n_distinct_tokens"))

  /** t21: n-gram novelty — the corpus-diversity diagnostic curation runs
    * beside dedup: for each document (in ingest/id order), what fraction
    * of its distinct 3-gram shingles was never seen in ANY earlier
    * document? A verbatim copy scores 0; the corpus's novelty decay
    * curve (novelty vs doc_id) is how a growing crawl is monitored for
    * saturation — when marginal novelty flattens, more of the same
    * source stops adding information. Reuses the d02/d03 shingle
    * generator verbatim, so "seen" means exactly what the dedup family
    * means by it.
    *
    * Shape: first-seen is ONE hash agg over the shingle stream
    * (min(doc_id) per shingle — the d11 substring-table idiom), joined
    * back at shingle grain, then a per-doc count agg; shuffles key on
    * shingle then doc_id, no window over the corpus and no pair join
    * anywhere, so it scales like d01, not like d02. At 100 TB the
    * first-seen table is the incrementally-maintained artifact (same
    * delta posture as d10: a new wave's grams min-merge into it);
    * this is the batch form. Docs with < 3 tokens carry n_grams = 0
    * and a NULL novelty (kept by the left join to the corpus spine). */
  def ngramNovelty(s: SparkSession, dir: String): DataFrame =
    ngramNoveltyOfDocs(docs(s, dir))

  /** Frame-grain core of t21 (the streaming/spec-testable form, like
    * [[shinglesOfDocs]]): expects (doc_id, lang, text). */
  private[graft] def ngramNoveltyOfDocs(d: DataFrame): DataFrame = {
    val sh = shinglesOfDocs(d)
    val first = sh.groupBy("shingle").agg(min("doc_id").as("first_doc"))
    val per = sh.join(first, "shingle")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("first_doc") === col("doc_id"), 1)).as("n_novel"))
    d.select("doc_id").join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(col("n_grams") > 0, ppm(col("n_novel"), col("n_grams")))
          .as("novelty_ppm"))
  }

  /** t22: t21's INCREMENTAL form — the per-ingest-cycle shape (d10/m05's
    * delta convention: the newest 10% of ids are "the batch"). The corpus
    * first-seen table is the maintained artifact: a delta document's
    * shingles probe it by key join (O(batch + matches), never a re-paid
    * corpus-wide re-aggregation), a shingle absent from the base is novel
    * in the FIRST delta document that carries it (the delta-internal
    * min(doc_id) — exactly-once across a batch, the StreamingDedup
    * new-new posture), and the emitted rows are definitionally t21
    * restricted to the delta (QueriesSpec pins row-for-row equality).
    * After the cycle the batch's grams min-merge into the first-seen
    * table — the same append posture as d10's signature log. */
  def noveltyIncremental(s: SparkSession, dir: String): DataFrame = {
    val sh = shinglesOfDocs(docs(s, dir))
    val cutoff = docs(s, dir).agg((max(col("doc_id")) * 9).as("c9"))
    val shc = sh.crossJoin(broadcast(cutoff))
    val baseFirst = shc.filter(col("doc_id") * 10 <= col("c9"))
      .groupBy("shingle").agg(min("doc_id").as("base_first"))
    val delta = shc.filter(col("doc_id") * 10 > col("c9"))
      .select("doc_id", "shingle")
    val deltaFirst = delta.groupBy("shingle").agg(min("doc_id").as("delta_first"))
    val per = delta.join(baseFirst, Seq("shingle"), "left")
      .join(deltaFirst, "shingle")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("base_first").isNull &&
          col("delta_first") === col("doc_id"), 1)).as("n_novel"))
    docs(s, dir).select("doc_id").crossJoin(broadcast(cutoff))
      .filter(col("doc_id") * 10 > col("c9"))
      .select("doc_id")
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(col("n_grams") > 0, ppm(col("n_novel"), col("n_grams")))
          .as("novelty_ppm"))
  }

  /** t23: per-source curation report — the view a crawl operator reads
    * to decide where the next token is worth fetching from: document and
    * token volume, language spread, and AGGREGATE novelty (Σ novel
    * shingles ÷ Σ shingles, in ppm — the token-weighted form, so one
    * giant saturated document cannot hide behind many tiny fresh ones
    * the way a mean-of-ratios would let it). A source whose novelty_ppm
    * decays toward 0 is re-crawling what the corpus already holds —
    * t21's per-document signal rolled up to the acquisition-decision
    * grain. Cost: t21's aggregates + one |sources|-row regroup; nothing
    * new touches the corpus. */
  def sourceStats(s: SparkSession, dir: String): DataFrame =
    sourceRollup(
      docs(s, dir).select(col("doc_id"), col("source"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens")),
      ngramNoveltyOfDocs(docs(s, dir)))

  /** t23's rollup factored at frame grain so the maintained-novelty
    * service twin (streaming.CorpusService.sourceStatsReport) aggregates
    * its incrementally-scored log with the identical arithmetic.
    * `d` carries (doc_id, source, lang, n_tokens); `nov` carries t21's
    * per-doc (doc_id, n_grams, n_novel). */
  private[graft] def sourceRollup(d: DataFrame, nov: DataFrame): DataFrame =
    d.join(nov.select("doc_id", "n_grams", "n_novel"), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        countDistinct("lang").as("n_langs"),
        sum("n_grams").as("n_grams"),
        sum("n_novel").as("n_novel"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("n_langs"), col("n_grams"), col("n_novel"),
        when(col("n_grams") > 0, ppm(col("n_novel"), col("n_grams")))
          .as("novelty_ppm"))

  /** t02: quality scoring — length/stopword/diversity signals as exact
    * integer ratios. */
  def qualityScore(s: SparkSession, dir: String): DataFrame =
    toks(s, dir)
      .withColumn("n_tokens", size(col("t")))
      .withColumn("stop_cnt", expr("size(filter(t, x -> x IN ('a', 'the')))"))
      .join(docs(s, dir).select(col("doc_id"),
        length(regexp_replace(col("text"), " ", "")).as("tok_chars")), "doc_id")
      .select(col("doc_id"),
        col("n_tokens"),
        ppm(col("stop_cnt").cast("long"), col("n_tokens").cast("long"))
          .as("stop_ratio_ppm"),
        ppm(size(array_distinct(col("t"))).cast("long"), col("n_tokens").cast("long"))
          .as("distinct_ratio_ppm"),
        idiv(col("tok_chars").cast("long") * 1000, col("n_tokens").cast("long"))
          .as("avg_token_len_ppk"),
        when(col("n_tokens") >= 20 &&
          ppm(col("stop_cnt").cast("long"), col("n_tokens").cast("long")) < 300000, 1)
          .otherwise(0).as("quality_ok"))

  /** t03: language-ID by n-gram (token) frequency profiles, self-profiled
    * from the labeled corpus; integer ppm weights so scoring is exact.
    * (The testdata langs share one vocabulary, so accuracy is near-chance —
    * the operator demonstrates the mechanism.) */
  def langId(s: SparkSession, dir: String): DataFrame = {
    val tr = tokRows(s, dir)
    val prof = tr.groupBy(col("lang").as("plang"), col("tok"))
      .agg(count(lit(1)).as("c"))
    val ptot = prof.groupBy("plang").agg(sum("c").as("tot"))
    val profW = prof.join(ptot, "plang")
      .select(col("plang"), col("tok"), ppm(col("c"), col("tot")).as("w"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("plang").asc)
    tr.select(col("doc_id"), col("lang").as("true_lang"), col("tok"))
      .join(profW, "tok")
      .groupBy(col("doc_id"), col("true_lang"), col("plang"))
      .agg(sum(col("w")).as("score"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("true_lang"),
        col("plang").as("predicted_lang"), col("score"))
  }

  /** t04: position-weighted document fingerprint — Σ (pos·h32(tok)) mod P. */
  def fingerprint(s: SparkSession, dir: String): DataFrame =
    tokRows(s, dir).withColumn("h", h32(col("tok")))
      .groupBy("doc_id")
      .agg((sum((col("pos") * col("h")) % lit(P)) % lit(P)).as("fingerprint"),
        count(lit(1)).as("n_tokens"))

  /** t10: TF-IDF top-3 terms per document. The idf is the INTEGER ratio
    * `(n_docs_in_lang * 1e6) // df` rather than a log: libm `ln` is not
    * bit-identical across engines, and the ratio induces the same
    * monotone per-term ordering the selection needs. Grain discipline:
    * tf is (doc, term), df is (lang, term) — both map-side combinable;
    * the final top-k window partitions by doc_id (|docs| partitions,
    * never global). */
  def tfIdfTopTerms(s: SparkSession, dir: String): DataFrame = {
    val tf = tokRows(s, dir)
      .groupBy(col("lang"), col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("df"))
    val nDocs = docs(s, dir).groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("tok").asc)
    tf.join(dfc, Seq("lang", "tok"))
      .join(broadcast(nDocs), Seq("lang"))
      .withColumn("idf_ppm", ppm(col("n_docs"), col("df")))
      .withColumn("tfidf", col("tf") * col("idf_ppm"))
      .withColumn("term_rank", row_number().over(w).cast("int"))
      .filter(col("term_rank") <= 3)
      .select(col("doc_id"), col("term_rank"), col("tok"), col("tf"),
        col("idf_ppm"), col("tfidf"))
  }

  /** t11: temperature-balanced multilingual sampling (τ = 0.5) — the
    * data-mix operator of multilingual training pipelines: high-resource
    * languages are down-sampled so the kept mix follows p_l^τ instead of
    * the raw frequency. Per-language keep probability
    * `p_l = sqrt(n_min / n_l)` (ppm-quantized: sqrt is correctly rounded
    * per IEEE-754, so both engines compute the identical integer), and
    * the keep DECISION is content-hash thresholding — deterministic per
    * document, stable across runs/partitionings, like t06's split. The
    * language stats frame is |langs| rows, broadcast back onto the
    * corpus. */
  def temperatureSample(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("lang"), h32(col("text")).as("h"))
    val counts = d.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val minN = counts.agg(min("n_docs").as("n_min"))
    val probs = counts.crossJoin(broadcast(minN))
      .withColumn("p_ppm",
        floor(sqrt(col("n_min") / col("n_docs")) * 1000000 + lit(0.5)).cast("long"))
      .select("lang", "n_docs", "p_ppm")
    d.join(broadcast(probs), "lang")
      .groupBy(col("lang"), col("n_docs"), col("p_ppm"))
      .agg(count(when(col("h") % 1000000 < col("p_ppm"), 1)).as("n_kept"))
  }

  /** t18: token-budget mixture balancing — the data-mixing step between
    * curation and training: given a per-language token TARGET (uniform
    * here: total tokens // |langs| — in production the mixture weights
    * are a config), compute each language's keep rate
    * min(1, target/actual) in ppm and the mix that results. Languages
    * under budget keep everything; over-budget languages are
    * down-sampled by content-hash thresholding (t06/t11's deterministic
    * decision — stable across runs, engines, partitionings; no RNG).
    * Complements t11: temperature sampling reshapes by DOC counts with
    * a power law, this hits an absolute TOKEN budget.
    *
    * Scale shape: one narrow scan to (lang, h, n_toks), a |langs|-row
    * agg broadcast back, one final agg — no shuffle at data grain
    * beyond the two-phase aggs. The ppm product caps the corpus at
    * ~2^63/1e6 ≈ 9e12 tokens; beyond that widen to DECIMAL(38,0). */
  def tokenBudgetMix(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("lang"), h32(col("text")).as("h"),
      size(split(col("text"), " ")).cast("long").as("n_toks"))
    val counts = d.groupBy("lang").agg(sum(col("n_toks")).as("lang_toks"))
    val budget = counts
      .agg(idiv(sum(col("lang_toks")), count(lit(1))).as("budget_toks"))
    val rates = counts.crossJoin(broadcast(budget))
      .withColumn("rate_ppm", least(lit(1000000L),
        idiv(col("budget_toks") * lit(1000000L), col("lang_toks"))))
    d.join(broadcast(rates), "lang")
      .groupBy(col("lang"), col("lang_toks"), col("budget_toks"),
        col("rate_ppm"))
      .agg(count(when(col("h") % 1000000 < col("rate_ppm"), 1))
        .as("n_docs_kept"),
        coalesce(sum(when(col("h") % 1000000 < col("rate_ppm"),
          col("n_toks"))), lit(0L)).as("n_toks_kept"))
  }

  /** t12: fixed-size stratified sample — k=10 documents per language,
    * selected by content-hash order (deterministic "reservoir": the
    * sample is a pure function of the corpus, stable across runs,
    * engines and partitionings). Uses the typed MinKByKey Aggregator, so
    * each map task forwards at most k rows per language and the shuffle
    * carries O(|langs|·k) — the `row_number() <= k` window form (the
    * oracle) would funnel the whole table through ≤|langs| reducers. */
  def stratifiedReservoir(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
      .select(col("lang"), h32(col("text")).as("h"), col("doc_id"))
    val mink = udaf(new graft.functions.MinKByKey(10),
      org.apache.spark.sql.Encoders.product[graft.functions.KeyedId])
    d.groupBy("lang")
      .agg(mink(col("h"), col("doc_id")).as("sample"))
      .select(col("lang"), posexplode(col("sample.ids")))
      .select(col("lang"), (col("pos") + 1).cast("int").as("sample_rank"),
        col("col.id").as("doc_id"), col("col.k").as("h"))
  }

  /** m03: chunked payload checksums — the blob-slicing plumbing of
    * multimodal processing: each document's payload split into fixed
    * 1000-unit chunks (a narrow generate-side explode — the payload is
    * NOT replicated per chunk), each chunk checksummed. Chunks are
    * character-addressed here because the oracle's md5 is VARCHAR-only
    * (the corpus is pure ASCII, so characters ≡ bytes; for real binary
    * the same shape runs substr-on-binary + a binary hash kernel). */
  def chunkChecksums(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), col("text"),
        length(col("text")).cast("long").as("len"))
      // Empty-text contract: zero chunks (idiv truncates toward zero, so
      // len=0 would otherwise yield sequence(0,0) = one empty-chunk row
      // where the oracle's floor-division range yields none).
      .filter(col("len") > 0)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0L),
          idiv(col("len") - 1, lit(1000L)))).as("chunk_idx"))
      .withColumn("chunk",
        expr("substring(text, CAST(chunk_idx * 1000 + 1 AS INT), 1000)"))
      .select(col("doc_id"), col("chunk_idx"),
        length(col("chunk")).cast("long").as("chunk_len"),
        h32(col("chunk")).as("checksum32"))

  /** t17: line-level boilerplate removal (the CCNet/RefinedWeb scrub) —
    * the WITHIN-corpus twin of line dedup: segments recurring across
    * documents (headers, footers, navigation chrome, license blurbs)
    * are dropped from every document, keeping the documents themselves.
    * This is a different decision grain from the whole-doc families:
    * d01–d08 drop DOCUMENTS; t17 drops SEGMENTS and reports what each
    * document retains. Segmentation is deterministic 10-token windows
    * (this corpus carries no newlines; on real text the split is '\n' —
    * the pipeline shape is identical), a segment is boilerplate when it
    * occurs verbatim in ≥ 2 distinct documents, and the same segment
    * repeated WITHIN one document is untouched (that is t14's
    * repetition signal, not boilerplate).
    *
    * Scale shape: explode to segment rows (narrow), ONE hash
    * aggregation by segment for document frequency (map-side
    * combinable, d01's cost class), join back at segment grain, one
    * agg by doc — nothing pairwise, no window over the corpus. */
  def boilerplateScrub(s: SparkSession, dir: String): DataFrame = {
    val segs = toks(s, dir).select(col("doc_id"), explode(expr(
      """transform(sequence(0, cast(ceil(size(t) / 10.0) as int) - 1),
        |          i -> concat_ws(' ', slice(t, i * 10 + 1, 10)))"""
        .stripMargin)).as("seg"))
    val df = segs.groupBy("seg")
      .agg(countDistinct(col("doc_id")).as("df"))
    segs.join(df, "seg")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("df") < 2, size(split(col("seg"), " ")).cast("long"))
          .otherwise(0L)).as("n_toks_kept"))
  }

  /** t19: t17's scrub as a corpus TRANSFORM — the materialization a
    * training run actually consumes. Where t17 REPORTS what each
    * document would retain, t19 emits the retained text itself:
    * boilerplate segments (verbatim in ≥ 2 distinct documents, t17's
    * exact predicate and segmentation) are removed and the surviving
    * segments are reassembled in original order into `clean_text`.
    * Fully-boilerplate documents survive with empty text (the keep/drop
    * decision on DOCUMENTS belongs to the dedup families, not the
    * scrub), pinned by the left join back to the corpus spine.
    *
    * Scale shape: t17's cost class exactly — narrow segment explode,
    * one map-side-combinable hash agg for document frequency, join back
    * at segment grain, one agg by doc. The reassembly is a per-doc
    * collect_list + array_sort at SEGMENT grain (≤ |doc|/10 rows, each
    * carrying its pos) — bounded by document size, never a window over
    * the corpus. */
  /** The scrub's positional segment frame — (doc_id, pos, seg), t17's
    * exact 10-token segmentation with the ordinal the reassembly needs.
    * Shared with the incremental maintenance path
    * (streaming.IncrementalScrub) so one-shot and maintained scrubs
    * agree bit-for-bit. `d` is (doc_id, text[, ...]). */
  private[graft] def scrubSegments(d: DataFrame): DataFrame =
    d.select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), posexplode(expr(
        """transform(sequence(0, cast(ceil(size(t) / 10.0) as int) - 1),
          |          i -> concat_ws(' ', slice(t, i * 10 + 1, 10)))"""
          .stripMargin)))
      .select(col("doc_id"), col("pos"), col("col").as("seg"))

  /** The scrub's reassembly: surviving (df < 2) segments back into one
    * `clean_text` per document, in original order, empty for docs whose
    * every segment was boilerplate. `segsWithDf` is (doc_id, pos, seg,
    * df); `spine` is the (doc_id) universe to emit. Row-local
    * array_sort inside the hash agg — no corpus-grain window. */
  private[graft] def reassembleClean(segsWithDf: DataFrame,
                                     spine: DataFrame): DataFrame = {
    val kept = segsWithDf.filter(col("df") < 2)
      .groupBy("doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("seg")))),
        x => x.getField("seg")), " ").as("clean_text"))
    spine.select(col("doc_id"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  def scrubbedCorpus(s: SparkSession, dir: String): DataFrame = {
    val segs = scrubSegments(docs(s, dir).select("doc_id", "text"))
    val df = segs.groupBy("seg")
      .agg(countDistinct(col("doc_id")).as("df"))
    reassembleClean(segs.join(df, "seg"), docs(s, dir))
  }

  /** t20: statistical LM quality score — the CCNet/KenLM family's
    * filter, completing the quality suite with its STATISTICAL member
    * (t02 is surface heuristics, t14 repetition, s10 embedding
    * geometry; this one scores each document under a language model
    * trained on the corpus itself): a per-language bigram model, each
    * document's score the mean conditional bigram probability over its
    * token stream. A document of common, well-ordered token
    * transitions scores high; garbled or off-language text pairs rare
    * transitions and sinks — the same signal a KenLM perplexity filter
    * thresholds, up to monotone transform.
    *
    * EXACT INTEGER arithmetic where real perplexity is log-float:
    * p(b|a) in ppm by integer division of corpus counts, the doc score
    * an integer mean of those — cross-engine float log/exp disagreement
    * (the round2p scaladoc's hazard class) cannot arise, and the score
    * is a monotone image of mean likelihood, which is what a threshold
    * consumes. Denominator is the unigram count (including stream-final
    * tokens), documented as the proxy's normalization.
    *
    * Scale shape: successor pairing is a ROW-LOCAL array transform over
    * the token array (the dsirGramsOf device — adjacency is already
    * explicit in the array index, so the doc-partitioned lead window
    * the first cut paid, an exchange + per-doc sort whose only job was
    * to recover that adjacency, is gone); the bigram model is one hash
    * agg; scoring joins doc bigram rows to the model at (lang, bigram)
    * grain — t03's "token join" standard shape, where a Zipfian
    * vocabulary's model table broadcasts and a huge one shuffles at
    * collision grain. */
  def bigramLmScore(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("lang"),
      split(col("text"), " ").as("t"))
    val big = d.select(col("doc_id"), col("lang"), explode(expr(
        """CASE WHEN size(t) < 2
          |THEN CAST(array() AS array<struct<ta:string,tb:string>>)
          |ELSE transform(sequence(0, size(t) - 2),
          |               i -> struct(t[i] AS ta, t[i+1] AS tb)) END"""
          .stripMargin)).as("bg"))
      .select(col("doc_id"), col("lang"),
        col("bg.ta").as("ta"), col("bg.tb").as("tb"))
    val cab = big.groupBy("lang", "ta", "tb").agg(count(lit(1)).as("c"))
    val ca = d.select(col("lang"), explode(col("t")).as("ta"))
      .groupBy("lang", "ta").agg(count(lit(1)).as("c1"))
    val model = cab.join(ca, Seq("lang", "ta"))
      .select(col("lang"), col("ta"), col("tb"),
        idiv(col("c") * lit(1000000L), col("c1")).as("p_ppm"))
    big.join(model, Seq("lang", "ta", "tb"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        idiv(sum(col("p_ppm")), count(lit(1))).as("lm_score_ppm"))
  }

  /** t38: DSIR-style importance resampling — the published data-SELECTION
    * shape (hashed n-gram importance weights, Xie et al. 2023): score
    * every document by how much its token-bigram distribution looks like
    * a TARGET corpus rather than the raw crawl, then keep the top
    * fraction. The quality gate (t02) names the in-corpus target here —
    * deployments point `targetDocs` at an external trusted corpus
    * (Wikipedia, curated books), which is exactly the frame parameter
    * [[dsirOf]] exposes.
    *
    * Features are HASHED bigrams (1024 buckets via the portable h32 —
    * DSIR's hashed-n-gram device, bounding the feature space regardless
    * of vocabulary size). Where DSIR scores Σ log(p_target/p_raw), the
    * cross-engine-exact surrogate is the mean per-occurrence probability
    * DIFFERENCE in ppm — the same over-represented-in-target contrast
    * with the same sign structure, in exact integer arithmetic (the t20
    * precedent: a monotone-equivalent integer image of the float score a
    * threshold would consume). The sum is shifted by +1e6 per gram
    * before idiv so the division is always non-negative (idiv/`//`
    * disagree on negatives across engines).
    *
    * Selection is EXACT top-`keepPct`% with deterministic tie-break,
    * computed scale-safely: a histogram at SCORE-DOMAIN grain (ppm
    * scores are bounded in [-1e6, 1e6], so the cumulative window runs
    * over ≤ 2e6+1 rows — corpus-size-INDEPENDENT, unlike a global
    * rank-over-docs window), a one-row boundary probe, and a ranking
    * window over only the boundary TIE CLASS (docs sharing the cutoff
    * score), ordered by doc_id. DSIR's Gumbel-noise sampling is the
    * randomized variant of the same weight-ordered keep; the
    * deterministic form is what re-runs and audits need.
    *
    * Scale shape: bigrams from the doc-partitioned lead window (t20);
    * two 1024-bucket hash aggs (map-side combinable) for raw/target
    * counts; the 1024-row probability table broadcasts back; scoring is
    * one per-doc hash agg. Nothing corpus-grain is globally sorted. */
  def dsirSelect(s: SparkSession, dir: String): DataFrame =
    dsirOf(docs(s, dir), qualityOkDocs(docs(s, dir)), DsirKeepPct)

  /** Keep fraction for t38, in percent. */
  private[graft] val DsirKeepPct = 25L

  /** The t02 quality predicate at frame grain — the doc-id set t38's
    * in-corpus target names and the service's weight trainer gates
    * through tombstones (dir-based qualityScore can't drop a tombstone
    * set it doesn't know about). Same predicate as qualityScore's
    * `quality_ok`. */
  private[graft] def qualityOkDocs(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 20 &&
        ppm(expr("size(filter(t, x -> x IN ('a', 'the')))").cast("long"),
          size(col("t")).cast("long")) < 300000)
      .select("doc_id")

  /** One row per bigram OCCURRENCE, hashed into t38's 1024 feature
    * buckets. A pure narrow map (the shinglesOfDocs shape: row-local
    * array transform + explode) — the score only consumes the bigram
    * MULTISET, so no doc-partitioned ordering window is ever needed,
    * and every recompute of this frame is shuffle-free. */
  private[graft] def dsirGramsOf(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), explode(expr(
        """CASE WHEN size(t) < 2 THEN CAST(array() AS array<string>)
          |ELSE transform(sequence(0, size(t) - 2),
          |               i -> concat_ws(' ', t[i], t[i+1])) END"""
          .stripMargin)).as("big"))
      .select(col("doc_id"), pmod(h32(col("big")), lit(1024L)).as("bkt"))

  /** The frozen per-bucket weight table: raw-corpus and target ppm
    * frequencies per hashed-bigram bucket — ≤1024 rows regardless of
    * corpus size (broadcast class; the artifact the corpus service
    * freezes per epoch). Buckets the target never emits carry pt=0. */
  private[graft] def dsirWeightsFrom(documents: DataFrame,
                                     targetDocs: DataFrame): DataFrame =
    dsirWeightsFromGrams(dsirGramsOf(documents), targetDocs)

  private[queries] def dsirWeightsFromGrams(grams: DataFrame,
                                   targetDocs: DataFrame): DataFrame = {
    val raw = grams.groupBy("bkt").agg(count(lit(1)).as("cr"))
    val tgt = grams.join(targetDocs, Seq("doc_id"), "left_semi")
      .groupBy("bkt").agg(count(lit(1)).as("ct"))
    raw.join(tgt, Seq("bkt"), "left")
      .crossJoin(broadcast(raw.agg(sum("cr").as("rt"))))
      .crossJoin(broadcast(tgt.agg(sum("ct").as("tt"))))
      .select(col("bkt"), ppm(col("cr"), col("rt")).as("pr"),
        coalesce(ppm(col("ct"), col("tt")), lit(0L)).as("pt"))
  }

  /** Per-doc importance scores under a FROZEN weight table (the serving
    * path: one narrow gram map + a ≤1024-row broadcast join + one
    * per-doc hash agg). Buckets absent from the table — possible only
    * for documents ingested after the freeze — contribute 0, the
    * neutral element of the contrast. */
  private[graft] def dsirScoresUnder(documents: DataFrame,
                                     weights: DataFrame): DataFrame =
    dsirScoresUnderGrams(dsirGramsOf(documents), weights)

  private[queries] def dsirScoresUnderGrams(grams: DataFrame,
                                   weights: DataFrame): DataFrame =
    grams.join(broadcast(weights), Seq("bkt"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        (idiv(sum(coalesce(col("pt"), lit(0L)) - coalesce(col("pr"), lit(0L)))
          + count(lit(1)) * lit(1000000L),
          count(lit(1))) - lit(1000000L)).as("dsir_score_ppm"))

  /** Frame-grain core of t38: `documents` carries (doc_id, text…);
    * `targetDocs` names the target-distribution doc ids (a subset of
    * `documents` here; an external corpus in deployment). Emits one row
    * per document having ≥1 bigram: (doc_id, n_bigrams, dsir_score_ppm,
    * keep). */
  private[graft] def dsirOf(documents: DataFrame, targetDocs: DataFrame,
                            keepPct: Long): DataFrame = {
    // The gram frame feeds THREE aggregations (raw counts, target
    // counts, scoring); materialize it once — (doc_id, bkt) rows, ~16
    // bytes each — instead of re-tokenizing the corpus per consumer
    // (the d06 eager-checkpoint pattern; serving reuses nothing and
    // skips this).
    //
    // MEASURED AND REVERTED (opt round 18, VERDICT r17 #4's proposed
    // fusion): aggregating the stream once to (doc_id, bkt, is_target,
    // c) and deriving weights AND scores from that compressed frame
    // looked like one pass instead of two — but synthetic docs hash
    // their ~n_bigrams grams into mostly-distinct buckets, so the
    // (doc, bkt) "compression" kept ~the full occurrence volume and
    // turned the two TINY exchanges this form pays (1024-row bucket
    // aggs and a 1-row-per-doc partial-aggregated score shuffle — the
    // gram explode leaves each doc's occurrences contiguous, so
    // map-side partial aggregation already collapses them before any
    // exchange) into one FULL-VOLUME (doc, bkt) exchange plus a
    // gram-grain target join. Bench: t38 1.3 → 3.85 s, t40 3.2 →
    // 6.2 s (same host, sentinels in band). The checkpointed
    // three-consumer form IS the floor r17 measured it to be.
    val grams = dsirGramsOf(documents).localCheckpoint()
    dsirKeepTop(
      dsirScoresUnderGrams(grams, dsirWeightsFromGrams(grams, targetDocs)),
      keepPct)
  }

  /** Exact top-`keepPct`% of a scored frame with deterministic
    * tie-break: cumulative doc counts down the (bounded) distinct-score
    * axis, one boundary row, ranking only within the cutoff-score tie
    * class. Emits the scored rows plus `keep`. */
  private[graft] def dsirKeepTop(scored0: DataFrame,
                                 keepPct: Long): DataFrame = {
    // The scored frame feeds THREE consumers (the score histogram, the
    // tie-class ranking, and the final keep projection); materialize it
    // once — (doc_id, n_bigrams, score) rows — instead of re-running
    // the scoring subtree per reference (the dsirOf gram-checkpoint
    // rationale one level up: un-materialized, t38's plan re-planned
    // the whole weight chain 4× and the composed t40 plan carried 30
    // copies of its scalar broadcasts).
    val scored = scored0.localCheckpoint()
    val hist = scored.groupBy("dsir_score_ppm").agg(count(lit(1)).as("cnt"))
    val cw = Window.orderBy(col("dsir_score_ppm").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val boundary = hist
      .withColumn("cum", sum(col("cnt")).over(cw))
      .crossJoin(broadcast(
        hist.agg(idiv(sum(col("cnt")) * lit(keepPct), lit(100L)).as("n_keep"))))
      .filter(col("cum") >= col("n_keep"))
      .orderBy(col("dsir_score_ppm").desc).limit(1)
      .select(col("dsir_score_ppm").as("s_star"),
        (col("n_keep") - (col("cum") - col("cnt"))).as("take_at"))
    val tieKept = scored
      .join(broadcast(boundary), col("dsir_score_ppm") === col("s_star"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("dsir_score_ppm")).orderBy(col("doc_id"))))
      .filter(col("rn") <= col("take_at"))
      .select(col("doc_id"), lit(1).as("kb"))
    scored.crossJoin(broadcast(boundary))
      .join(tieKept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_bigrams"), col("dsir_score_ppm"),
        when(col("dsir_score_ppm") > col("s_star") || col("kb").isNotNull, 1)
          .otherwise(0).as("keep"))
  }

  /** t39's histogram geometry: TWO-TIER equi-width bins so the sketch
    * stays FIXED-SIZE (≤1024 rows per language) while covering
    * long-document corpora. Tier 1: bins 0..511 of `HistBinW` = 16
    * tokens each, covering [0, 8192) — the body of any web/document
    * corpus, at dashboard-grade resolution. Tier 2: bins 512..1023 of
    * `HistBinW2` = 2048 tokens each, covering [8192, 1 056 768) — the
    * book/transcript tail (a round-12 single-tier cap saturated at
    * 16.4k tokens, silently flooring p99 on long-document corpora).
    * Lengths ≥ ~1.06M tokens saturate into bin 1023 (the one remaining
    * — and documented — regime bound; a corpus whose p99 exceeds a
    * million tokens needs a third tier, not a bigger cap). Accuracy:
    * quantile estimates land within ONE BIN WIDTH of the exact order
    * statistic — 16 tokens in tier 1, 2048 in tier 2 (HistSpec pins
    * both tiers). */
  private[graft] val HistBinW = 16L
  private[graft] val HistTier1Bins = 512L
  private[graft] val HistTier1Cap = HistTier1Bins * HistBinW // 8192
  private[graft] val HistBinW2 = 2048L
  private[graft] val HistMaxBin = 1023L

  /** One (lang, bin, cnt) histogram row set — the mergeable LINEAR
    * sketch itself: per-bucket counts are sums of per-doc
    * contributions, so partial histograms of disjoint batches SUM to
    * the corpus histogram row-for-row (the CMS property, powering the
    * service's per-drain maintenance and purge-by-subtraction). */
  private[graft] def histSketchOf(documents: DataFrame): DataFrame = {
    val n = size(split(col("text"), " ")).cast("long")
    documents.select(col("lang"),
      when(n < lit(HistTier1Cap), idiv(n, lit(HistBinW)))
        .otherwise(least(
          lit(HistTier1Bins) + idiv(n - lit(HistTier1Cap), lit(HistBinW2)),
          lit(HistMaxBin))).as("bin"))
      .groupBy("lang", "bin").agg(count(lit(1)).as("cnt"))
  }

  /** Integer quantile estimates off a (lang, bin, cnt) histogram:
    * rank r(q) = ⌈n·q/100⌉ located by a per-lang cumulative sum over
    * the ≤1024-row bin axis, estimate = bin floor + truncated linear
    * interpolation within the bin (tier-dependent floor and width —
    * the inverse of [[histSketchOf]]'s geometry) — all exact integer
    * arithmetic, so the DuckDB twin is hash-identical. The window is
    * partitioned by lang and bounded by the FIXED bin count — never
    * corpus-grain. */
  private[graft] def quantilesOfHist(hist: DataFrame): DataFrame = {
    val tot = hist.groupBy("lang").agg(sum("cnt").as("nd"))
    val cw = Window.partitionBy(col("lang")).orderBy(col("bin"))
    val lowEdge = when(col("bin") < lit(HistTier1Bins),
        col("bin") * lit(HistBinW))
      .otherwise(lit(HistTier1Cap) +
        (col("bin") - lit(HistTier1Bins)) * lit(HistBinW2))
    val width = when(col("bin") < lit(HistTier1Bins), lit(HistBinW))
      .otherwise(lit(HistBinW2))
    hist.withColumn("cum", sum(col("cnt")).over(cw))
      .join(broadcast(tot), "lang")
      .withColumn("q", explode(array(lit(50L), lit(90L), lit(99L))))
      .withColumn("r", idiv(col("nd") * col("q") + lit(99L), lit(100L)))
      .filter(col("cum") - col("cnt") < col("r") && col("r") <= col("cum"))
      .withColumn("est", lowEdge +
        idiv((col("r") - (col("cum") - col("cnt"))) * width, col("cnt")))
      .groupBy("lang")
      .agg(max(col("nd")).as("n_docs"),
        max(when(col("q") === 50, col("est"))).as("p50_est"),
        max(when(col("q") === 90, col("est"))).as("p90_est"),
        max(when(col("q") === 99, col("est"))).as("p99_est"))
  }

  /** t39: per-language document-length quantiles off a MERGEABLE
    * equi-width histogram sketch — the third sketch family (q17's HLL
    * counts distincts, t37's CMS counts frequencies; this one answers
    * ORDER STATISTICS): p50/p90/p99 token-count estimates within one
    * bin width of the exact order statistic — 16 tokens below 8192,
    * 2048 tokens up to ~1.06M (the two-tier geometry; saturating
    * above, see [[HistBinW]]) — from a fixed-size (≤1024 rows/lang)
    * histogram that never re-reads the corpus once built. The curation read: "how long are my documents
    * per language, and is the tail drifting" — the dashboard quantile
    * a t-digest serves in float engines, here exact-integer so it
    * hash-matches DuckDB.
    *
    * Scale shape: ONE map-side-combinable hash agg over the corpus
    * builds the sketch; everything after runs at sketch grain (≤1024
    * rows/lang cumulative window, |langs|-row broadcast). The sketch
    * is LINEAR — disjoint batches' partials sum to the corpus sketch —
    * which is what the service's per-drain maintenance
    * (CorpusService.refreshLengthHistogram) and deletion-by-
    * subtraction ride. */
  def lengthQuantiles(s: SparkSession, dir: String): DataFrame =
    quantilesOfHist(histSketchOf(docs(s, dir)))

  /** d08: fuzzy dedup by edit distance — the modality the hash families
    * (d01–d06) can't see: small character-level edits (typos, OCR noise)
    * that change every shingle. Candidate pairs are BLOCKED by
    * (lang, length-bucket) so the quadratic comparison runs within
    * bounded blocks, never all-pairs, and the Levenshtein runs on a
    * fixed 20-char prefix THROUGH THE THRESHOLDED VARIANT — Spark's
    * 3-arg levenshtein abandons a pair as soon as the running distance
    * exceeds the bound (returns -1), so far-apart pairs (the vast
    * majority) cost O(threshold·len), not O(len²). Distances ≤ the
    * threshold equal the unbounded distance, so the oracle's plain
    * levenshtein + WHERE produces identical rows.
    *
    * Blocking recall contract: each doc is emitted into its own AND its
    * successor length bucket, so any two docs whose buckets differ by at
    * most 1 (|len diff| < 100 guaranteed compared; < 50 always) share a
    * block — a near-pair straddling a bucket boundary (lengths 49/51) is
    * still compared, where naive equal-bucket blocking silently skips it.
    * Pairs whose lengths differ by ≥2 buckets are never compared: that is
    * the stated trade (their edit distance is ≥ the length gap anyway,
    * far above any plausible near-dup threshold for same-prefix docs).
    *
    * The expansion is SINGLE-SIDED: only the probe side explodes into
    * {own, successor} buckets and joins against the unexploded build
    * side on `a.blk = b.lenb` — half the join volume of exploding both
    * sides (which compares doubled blocks against doubled blocks). Each
    * unordered pair matches exactly once: a cross-bucket pair only with
    * the lower-bucket doc as the probe (its successor block = the
    * other's own bucket), an equal-bucket pair gated by id order — both
    * row-local predicates, no dedup shuffle over the candidate set.
    *
    * COST DECOMPOSITION (sf0.1, local[32], 900k candidate pairs,
    * medians of 3): the blocked join alone (literal payload) runs in
    * 0.50 s; with the thresholded levenshtein it is 3.28 s (3.68 s
    * unthresholded — the 20-char prefix keeps both constants small).
    * 85% of d08's time is therefore the verification payload itself at
    * ~3 µs/pair — irreducible without changing the output: every
    * candidate must be exactly verified, the join machinery is already
    * the minor term, and any candidate cap (top-N by length proximity)
    * would drop true ≤10-edit pairs from the report. The cost dial that
    * PRESERVES semantics is the block width (50 chars), which trades
    * Σ|block|² volume against the |len diff| ≥ 100 recall bound. */
  def dedupEditDistance(s: SparkSession, dir: String): DataFrame =
    editDistancePairs(docs(s, dir))

  /** Frame-parameterized core of d08 over (doc_id, lang, text) rows —
    * unit-testable on synthetic corpora (boundary-straddling pairs). */
  def editDistancePairs(documents: DataFrame): DataFrame = {
    val d = documents.select(col("doc_id"), col("lang"),
      substring(col("text"), 1, 20).as("prefix"),
      idiv(length(col("text")).cast("long"), lit(50L)).as("lenb"))
    val blocked = d.withColumn("blk",
      explode(array(col("lenb"), col("lenb") + 1)))
    blocked.as("a").join(d.as("b"),
        col("a.lang") === col("b.lang") && col("a.blk") === col("b.lenb") &&
          (col("a.lenb") < col("b.lenb") || col("a.doc_id") < col("b.doc_id")))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
        // Bit-parallel kernel (functions.LevenshteinBp): the 20-char
        // prefix distance packs into one machine word, so the full
        // distance costs ~20 word-ops per pair — measured 4.2 → 1.5 s
        // for d08 at sf0.1 vs the built-in thresholded cell loop
        // (matched sentinels; the remainder is the blocked join). Full
        // distance + threshold filter ≡ the 3-arg form's -1 contract
        // (≤-threshold distances are equal by definition).
        graft.functions.LevenshteinBp(col("a.prefix"), col("b.prefix"))
          .as("edit_dist"))
      .filter(col("edit_dist") <= 10)
  }

  /** d07: canonical-corpus resolution — the dedup family's terminal
    * filter: every document mapped to its cluster's canonical id (the
    * component minimum from d06; itself when not near-duplicated) and a
    * keep/drop decision. This is the row-level operator a pipeline
    * actually applies before training; d01–d06 are its machinery. */
  def canonicalCorpus(s: SparkSession, dir: String): DataFrame =
    canonicalResolution(docs(s, dir).select(col("doc_id"), col("lang")),
      clusterLabels(s, dir))

  /** The LSH cluster-label table, memoized per (context, dir) — the
    * storage-for-recompute swap the Bloom sketch (d09/t16) and the ANN
    * index (s08/s09) already make, applied to the pair-graph fixpoint:
    * d06 IS the build and stays a fresh computation every invocation
    * (its cost is what the benchmark measures for the build path), but
    * its CONSUMERS — d07's resolution and through it t13/t16's corpus
    * materializations — read the labels computed once per corpus
    * instead of re-running a ~3 s checkpointed BSP per query. At
    * 100 TB the label table is a stored artifact maintained
    * incrementally (the corpus service's p.clusters does exactly
    * that); this memo is the batch-dir stand-in, keyed by the
    * documents table's snapshot ([[graft.Snapshot]]): a corpus that grew
    * gets fresh labels, and the superseded label frame is unpinned and
    * freed. Scoped to the applicationId because the localCheckpoint
    * dies with its SparkContext. */
  private[queries] def clusterLabels(s: SparkSession, dir: String): DataFrame =
    graft.Snapshot.memo(s, "clusterLabels", Seq(s"$dir/documents.parquet"),
        sparkState = true)(
      compute = {
        val built = dedupClusters(s, dir)
        val fresh = built.localCheckpoint()
        // The CC loop's own final-labels checkpoint is now copied into
        // `fresh` — free it, or every memo build pins two label frames.
        freeCkpt(built)
        pinCkpt(fresh)
      },
      release = (l: DataFrame) => { unpinCkpt(l); freeCkpt(l) })

  /** d07's keep/drop rule at FRAME grain: docs ⟕ cluster labels, keep a
    * doc iff it is its component's minimum (docs in no pair are their
    * own canonical). Shared with the streamed canonical-corpus artifact
    * (CorpusService.refreshCanonicalCorpus) so both resolutions are the
    * same code path by construction. */
  private[graft] def canonicalResolution(docsIdLang: DataFrame,
                                         labels: DataFrame): DataFrame =
    docsIdLang
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("cluster_id"), col("doc_id")).as("canonical_id"))
      .withColumn("is_kept",
        when(col("doc_id") === col("canonical_id"), 1).otherwise(0))

  /** d13: SEMANTIC canonical-corpus resolution — SemDeDup's actual
    * keep/drop decision, which s05 alone stops short of: s05 emits the
    * ≥-threshold cosine PAIRS, d13 clusters them (connected components,
    * d06's machinery) and resolves every document to its semantic
    * cluster's canonical (d07's rule — the component minimum; documents
    * in no pair keep themselves). This is the row-level filter a
    * SemDeDup pipeline applies before training, the semantic twin of
    * d07's verbatim resolution — same clusterPairs / canonicalResolution
    * code paths, only the pair graph differs. Embedding i embeds
    * document i in this corpus, so vec ids ARE doc ids; deployments
    * with distinct id spaces map them first (cf.
    * CorpusService.dedupReport's semIdMap).
    *
    * Scale posture is inherited: the pair graph is cell-collision
    * grain (≪ corpus), the CC loop label grain, the resolution one
    * key-grain left join — and the pair source is s09 (the stored-index
    * form of s05, row-for-row identical by SemDedupIndexSpec), so the
    * corpus-wide assignment is READ, not recomputed: the index build is
    * amortized across every consumer of the cell structure (s05's
    * pairs, this resolution, s08's ANN serving). */
  def semanticCanonical(s: SparkSession, dir: String): DataFrame =
    canonicalResolution(
      docs(s, dir).select(col("doc_id"), col("lang")),
      clusterPairs(semdedupIndexed(s, dir)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))))

  /** t13: the CAPSTONE composition — materialize the training corpus the
    * way a pipeline actually would: keep a document iff it is its
    * near-dup cluster's canonical (d07) AND it passes quality gating
    * (t02), then report the retained mix per (lang, split) with token
    * budgets (t06's content-hash split). Each stage is a key-grain
    * semi-join onto the doc set — the operators compose without any new
    * shuffle shape, which is the point: d01–d08/t01–t12 are not demos,
    * they assemble. */
  def corpusMaterialize(s: SparkSession, dir: String): DataFrame =
    materializeSummary(trainingManifest(s, dir,
      canonicalCorpus(s, dir).filter(col("is_kept") === 1).select("doc_id")))

  /** The doc-grain training-set manifest t13/t16 summarize and the
    * corpus service materializes as its maintained artifact
    * (CorpusService.refreshTrainingSet): every document that survives
    * the canonical keep/drop (`keptDocs` — whichever resolution the
    * caller maintains) AND the quality gate, with its deterministic
    * split and token budget. Both gates are key-grain semi-joins; the
    * only corpus-wide touches are the two narrow scans they ride. */
  private[graft] def trainingManifest(s: SparkSession, dir: String,
                                      keptDocs: DataFrame): DataFrame =
    docSplitToks(s, dir)
      .join(keptDocs, Seq("doc_id"), "left_semi")
      .join(qualityScore(s, dir)
        .filter(col("quality_ok") === 1).select("doc_id"),
        Seq("doc_id"), "left_semi")

  /** (doc_id, lang, split, n_toks) — the manifest's corpus-wide frame:
    * t06's content-hash split plus the whitespace token budget. */
  private[graft] def docSplitToks(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), col("lang"),
        when(splitBucket < 80, "train").when(splitBucket < 90, "valid")
          .otherwise("test").as("split"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))

  /** The (lang, split) doc/token mix of a manifest — t13/t16's report
    * grain over any doc-grain manifest. */
  private[graft] def materializeSummary(manifest: DataFrame): DataFrame =
    manifest.groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))

  /** Tokens per training sequence for the pack manifest (t28/t30). Small
    * relative to a production context window because the synthetic docs
    * are 30–400 tokens; the arithmetic is length-agnostic. */
  private[graft] val PackCap = 128L

  /** Default data-parallel shard count for the curation manifest's
    * pack deal (t40 / the service's maintained pack manifest). */
  private[graft] val CurationShards = 8

  /** t28: sequence-packing manifest — the trainer-facing operator GPT-class
    * pretraining actually runs: concatenate documents in deterministic
    * doc_id order and split the token stream at every `cap` tokens, so
    * every training sequence is exactly full (no padding waste) and a
    * document crossing a boundary is split, not dropped. The output is a
    * MANIFEST — one row per (document, pack) span with offsets on both
    * sides — because at 100 TB the packer must not rewrite token payloads:
    * the trainer's loader slices the original docs by (doc_start,
    * span_toks) and lays them at pack_start, and the attention-mask /
    * document-boundary structure is exactly these rows.
    *
    * Scale shape — a DISTRIBUTED PREFIX SUM, not a global window: a naive
    * `SUM(n_toks) OVER (ORDER BY doc_id)` funnels the whole corpus through
    * ONE window partition (the classic packing scale cliff). Instead the
    * running offset is computed hierarchically: per-block token subtotals
    * (one shuffle at block grain, |corpus|/blockDocs rows), an offset
    * cumsum over that tiny block frame, then a window PARTITIONED by block
    * (≤ blockDocs rows per partition) plus the broadcast block offset.
    * Block size is invisible in the result (prefix-sum associativity —
    * PackSpec pins block=1 ≡ 4096 ≡ one-block); at 10^11 docs the block
    * frame is ~10^7 rows and the same decomposition applies once more.
    * The span explode is per-doc arithmetic: a doc starting at `strt`
    * covers packs ⌊strt/cap⌋..⌊(strt+n−1)/cap⌋. */
  def packManifest(s: SparkSession, dir: String): DataFrame =
    packSpans(docs(s, dir).select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_toks")), PackCap,
      estDocs = Some(docsCountOf(s, dir)))

  /** Block count above which [[packSpans]] adds the SECOND prefix-sum
    * level. Below it the single-level block cumsum's one unpartitioned
    * window is BOUNDED — ≤ 2^20 (blk, blk_toks) rows ≈ 16 MB through
    * one task, trivial for any executor — and the two-level form's
    * extra aggregation + second broadcast build are pure constant
    * overhead (measured: the unconditional two-level packer regressed
    * the whole pack family 1.2–1.8× at sf0.1 — BENCH_AB_r18_batch1/1b —
    * while OptProfile's isolated legs put the flat form within ~0.07 s;
    * the gap is per-query job-count, not per-row work). At the default
    * 4096-doc block width the dial flips at ~4.3·10^9 docs; above it
    * the superblock level bounds the unpartitioned window to
    * |docs|/blockDocs² rows (~6000 at 10^11 docs). */
  private[graft] val PackTwoLevelMinBlocks = 1L << 20

  /** Memoized parquet-metadata row count of the documents table — the
    * packer's LEVEL-COUNT estimator (column-pruned count, no data
    * scan; memoized over the documents table's snapshot like
    * [[corpusCountOf]]). Every registered pack input is a
    * doc-grain frame (t28/t31 the raw docs, t30/t40 gated subsets,
    * t35 the stored BPE tokens), so the docs count UPPER-BOUNDS the
    * packed row count and can only err toward the scale-safe side. */
  private[graft] def docsCountOf(s: SparkSession, dir: String): Long =
    graft.Snapshot.memo(s, "docsCount", Seq(s"$dir/documents.parquet")) {
      docs(s, dir).count()
    }

  /** t28's core at frame grain — pack any (doc_id, n_toks) frame; t30
    * hands in the gated training manifest, the corpus service its
    * maintained one. `blockDocs` is the prefix-sum block width (result-
    * invariant; parameterized so PackSpec can prove that).
    *
    * `estDocs` drives the SCALE-ADAPTIVE level count (guide §2 —
    * derive the decomposition from input size, not a constant): an
    * attested-small frame (≤ [[PackTwoLevelMinBlocks]] blocks) takes
    * the single-level block cumsum — its one unpartitioned window is
    * bounded by the dial itself — while a huge or UNATTESTED (None)
    * frame takes the two-level form whose only unpartitioned window
    * runs at superblock grain. Both levels produce identical rows by
    * prefix-sum associativity (PackSpec pins single ≡ two-level on
    * the same frame, plus block-width invariance). */
  private[graft] def packSpans(d: DataFrame, cap: Long,
                               blockDocs: Long = 4096L,
                               estDocs: Option[Long] = None): DataFrame = {
    val blocks = d.select(col("doc_id"), col("n_toks"))
      .filter(col("n_toks") > 0)
      .withColumn("blk", expr(s"doc_id div $blockDocs"))
    val wIn = Window.partitionBy("blk").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    def body(blkOffJoined: DataFrame): DataFrame = blkOffJoined
      .withColumn("strt", col("blk_off") +
        coalesce(sum("n_toks").over(wIn), lit(0L)))
      .withColumn("pack_id", explode(sequence(
        expr(s"strt div $cap"), expr(s"(strt + n_toks - 1) div $cap"))))
      .select(col("doc_id"), col("pack_id"),
        greatest(col("pack_id") * cap - col("strt"), lit(0L)).as("doc_start"),
        greatest(col("strt") - col("pack_id") * cap, lit(0L)).as("pack_start"),
        (least((col("pack_id") + 1L) * cap, col("strt") + col("n_toks")) -
          greatest(col("pack_id") * cap, col("strt"))).as("span_toks"))
    val blkAgg = blocks.groupBy("blk").agg(sum("n_toks").as("blk_toks"))
    if (estDocs.exists(n => n / blockDocs < PackTwoLevelMinBlocks)) {
      // SINGLE-LEVEL: one bounded unpartitioned cumsum over the block
      // frame, one broadcast build. The bench-scale plan.
      val wB = Window.orderBy("blk")
        .rowsBetween(Window.unboundedPreceding, -1)
      val blkOff = blkAgg
        .withColumn("blk_off", coalesce(sum("blk_toks").over(wB), lit(0L)))
        .select("blk", "blk_off")
      body(blocks.join(broadcast(blkOff), "blk"))
    } else {
      // TWO-LEVEL block prefix sum (the "apply the decomposition once
      // more" the t28 scaladoc promised): the block offsets themselves
      // are computed hierarchically, so the only UNPARTITIONED window
      // runs at SUPERBLOCK grain — |docs|/blockDocs² rows (~6000 at
      // 10^11 docs) — while block offsets cumulate inside
      // ≤blockDocs-wide superblock partitions. Same associativity
      // argument as the doc level: result-invariant to both widths.
      //
      // The two offset frames ride SIBLING broadcasts joined flat onto
      // the doc frame (blk_off = s_off + in_off recomposed in the main
      // projection) rather than one nested broadcast chain: nesting
      // the superblock broadcast inside the block-offset broadcast
      // SERIALIZES two broadcast-build jobs in front of the main stage
      // (OptProfile `pack` legs: A-single 0.45 / B-nested 0.65 /
      // C-flat 0.52 min at sf0.1).
      val wS = Window.orderBy("sblk")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wBin = Window.partitionBy("sblk").orderBy("blk")
        .rowsBetween(Window.unboundedPreceding, -1)
      val blkAggS = blkAgg.withColumn("sblk", expr(s"blk div $blockDocs"))
      val sblkOff = blkAggS.groupBy("sblk").agg(sum("blk_toks").as("s_toks"))
        .withColumn("s_off", coalesce(sum("s_toks").over(wS), lit(0L)))
        .select("sblk", "s_off")
      val inOff = blkAggS
        .withColumn("in_off", coalesce(sum("blk_toks").over(wBin), lit(0L)))
        .select("blk", "sblk", "in_off")
      body(blocks
        .join(broadcast(inOff), "blk")
        .join(broadcast(sblkOff), "sblk")
        .withColumn("blk_off", col("s_off") + col("in_off")))
    }
  }

  /** t31: PACK-GRAIN SHARD ASSIGNMENT with epoch-seeded visit order —
    * the trainer handoff t28's manifest feeds. Each training sequence
    * (pack) is dealt to one of 8 data-parallel shards by a stable id
    * hash (a pack never migrates between hosts mid-run; t15 balances
    * DOC shards by size, but packs are all exactly `cap` tokens, so
    * plain hashing is already token-balanced), and every epoch gets a
    * fresh deterministic shuffle of each shard's packs via a seeded
    * hash ORDER KEY. Emitting the key instead of a materialized
    * row_number rank is deliberate scale design: ranking within
    * (epoch, shard) would funnel |packs|/shards rows through single
    * window partitions — the cliff t28's prefix sum exists to avoid —
    * while the key is pure projection; the storage layer writes
    * sortWithinPartitions(ord_key) and the loader streams in order. */
  def packShards(s: SparkSession, dir: String): DataFrame =
    packManifest(s, dir).select("pack_id").distinct()
      .withColumn("epoch", explode(array(lit(0L), lit(1L))))
      .select(col("pack_id"), col("epoch"),
        (h32(col("pack_id").cast("string")) % 8).as("shard"),
        h32(concat(lit("e"), col("epoch").cast("string"), lit(":"),
          col("pack_id").cast("string"))).as("ord_key"))

  /** t29: LEAKAGE-SAFE train/valid/test split — assignment at near-dup
    * CLUSTER grain, the repair for the doc-grain content-hash split's
    * blind spot: md5(text) co-splits verbatim copies by construction, but
    * a near-duplicate differing in one token hashes independently, so
    * ~20% of near-dup pairs straddle train/test and the eval split is
    * contaminated before decontamination even runs (SplitSpec measures
    * the leak on this corpus and pins it nonzero). Here every document
    * inherits its d06 component's canonical id (itself when unclustered)
    * and the hash is taken over THAT, so a whole near-dup cluster lands
    * in one split atomically — the keep-all workflow's complement to
    * d07's keep-one (which prevents the same leak by deletion).
    * Cost: the memoized label table + one key-grain left join. */
  def clusterSplit(s: SparkSession, dir: String): DataFrame =
    clusterSplitOf(docs(s, dir).select("doc_id"), clusterLabels(s, dir))

  /** t29 at frame grain — split any doc-id frame by any label frame
    * (the corpus service hands in its maintained cluster labels). */
  private[graft] def clusterSplitOf(docIds: DataFrame,
                                    labels: DataFrame): DataFrame = {
    val bucket = h32(col("canonical_id").cast("string")) % 100
    docIds.join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("canonical_id"))
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "valid")
          .otherwise("test"))
  }

  /** t30: the packed training set — the pipeline's terminal artifact,
    * composing the dedup/quality/split machinery into what actually ships
    * to the trainer: canonical keep/drop (d07) ∩ quality gate (t02's
    * rule) ∩ the leakage-safe TRAIN split (t29's cluster-grain rule — for
    * kept docs canonical_id = doc_id, so the same rule governs both the
    * keep-one and keep-all workflows), packed by t28's manifest. All
    * three gates are key-grain semi-joins over narrow scans; the packer
    * adds the block-grain prefix sum and nothing corpus-wide beyond it.
    *
    * The gated frame is MATERIALIZED before packing (opt round 18):
    * the packer's offset legs reference their input three times
    * ((super)block subtotals + the doc window), and each reference
    * re-planned the whole gate chain — the checkpoint pays the chain
    * ONCE (doc-grain, two longs per row), where even the r17
    * single-level packer paid it twice (measured: interleaved A/B vs
    * r17 HEAD, BENCH_AB_r18_batch1c.json). */
  def trainingPacks(s: SparkSession, dir: String): DataFrame =
    packSpans(trainSplitToks(s, dir).localCheckpoint(), PackCap,
      estDocs = Some(docsCountOf(s, dir)))

  /** t40: the END-TO-END CURATION PIPELINE as ONE query — the composed
    * artifact every upstream operator exists to feed, materialized as
    * the final training manifest a loader ships from: documents that
    * survive near-dup canonical keep (d07 over the d03 LSH graph) ∧
    * the quality gate (t02) ∧ the leakage-safe cluster-grain TRAIN
    * split (t29) ∧ decontamination against the held-out eval split
    * (t16's drop set, Bloom-prefiltered 8-gram evidence) ∧ DSIR
    * importance selection (t38's exact top-25%), packed into
    * exactly-full training sequences (t28's distributed prefix sum)
    * and dealt to data-parallel shards by the stable pack-id hash
    * (t31's rule). One row per (document, pack) span with its shard —
    * offsets on both sides, so the loader slices original docs without
    * any packer rewrite.
    *
    * The composition is pure plan surgery — five key-grain semi/anti
    * joins over the operators' existing frames feeding the block-grain
    * packer; no driver-side glue beyond the memoized cluster-label
    * fixpoint every d07 consumer shares (a checkpointed leaf in this
    * plan), no collect, no cartesian (PlanSpec pins the plan shape).
    * At 100 TB every gate shuffles at doc-key grain and the packer at
    * block grain — nothing new materializes beyond what the component
    * operators already pay. */
  def curationManifest(s: SparkSession, dir: String): DataFrame =
    curationManifest(s, dir, CurationShards)

  /** The shard deal is PARAMETRIC — the count is what a data-parallel
    * trainer varies per job (t31's stable-hash rule: a pack's shard
    * depends only on its own id and the count, so re-deals at another
    * count never reshuffle history non-deterministically). The 2-arg
    * form (the registered query) fixes the default. */
  def curationManifest(s: SparkSession, dir: String,
                       shardCount: Int): DataFrame = {
    require(shardCount > 0, s"curationManifest: shardCount $shardCount")
    // Gated frame MATERIALIZED before packing — the trainingPacks
    // rationale, with a five-family gate chain behind it here.
    val gated = trainSplitToks(s, dir)
      .join(contaminatedTrainDocs(s, dir), Seq("doc_id"), "left_anti")
      .join(dsirSelect(s, dir).filter(col("keep") === 1).select("doc_id"),
        Seq("doc_id"), "left_semi")
      .localCheckpoint()
    packSpans(gated, PackCap, estDocs = Some(docsCountOf(s, dir)))
      .withColumn("shard", h32(col("pack_id").cast("string")) % shardCount)
  }

  /** t30's gated (doc_id, n_toks) frame, factored so the corpus service
    * packs its maintained manifest with the identical gate arithmetic. */
  private[graft] def trainSplitToks(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
      .join(canonicalCorpus(s, dir).filter(col("is_kept") === 1)
        .select("doc_id"), Seq("doc_id"), "left_semi")
      .join(qualityScore(s, dir).filter(col("quality_ok") === 1)
        .select("doc_id"), Seq("doc_id"), "left_semi")
      .join(clusterSplit(s, dir).filter(col("split") === "train")
        .select("doc_id"), Seq("doc_id"), "left_semi")

  /** t16: DECONTAMINATED corpus materialization — t13's capstone with
    * d09's leakage machinery pointed the production direction: TRAINING
    * documents sharing ANY verbatim 8-gram with the held-out test split
    * are dropped before the (lang, split) totals. d09 AUDITS test docs
    * against train grams; decontamination REMOVES train docs against
    * test grams — the eval suite must stay meaningful, so the train
    * side pays.
    *
    * Scale shape, and why the Bloom asymmetry flips here: the TEST
    * split is the SMALL side (10% of this corpus; a fixed eval suite in
    * production), so its distinct grams build the broadcast Bloom
    * (memoized per snapshot, same machinery as d09) and the unboundedly
    * large TRAIN gram stream is filtered below the exact join — the
    * sketch is sized to the eval corpus, not the 100 TB side. No false
    * negatives (Bloom never rejects a member); false positives are
    * rejected by the exact gram join above it. */
  def corpusDecontaminated(s: SparkSession, dir: String): DataFrame =
    materializeSummary(trainingManifest(s, dir,
      canonicalCorpus(s, dir).filter(col("is_kept") === 1).select("doc_id"))
      .join(contaminatedTrainDocs(s, dir), Seq("doc_id"), "left_anti"))

  /** TRAIN documents sharing any verbatim 8-gram with the held-out test
    * split — t16's drop set, factored so the corpus service's
    * maintained manifest applies the identical decontamination. The
    * broadcast Bloom is built on the TEST grams (the small side) and
    * filters the train gram stream below the exact join. */
  private[graft] def contaminatedTrainDocs(s: SparkSession,
                                           dir: String): DataFrame =
    contaminatedTrainDocsOf(s, "bloom#test8", Seq(s"$dir/documents.parquet"),
      docs(s, dir).select("doc_id", "text"))

  /** [[contaminatedTrainDocs]] at FRAME grain: evidence (both the test
    * gram set and the train gram stream) comes from the caller's
    * document frame, so the corpus service can hand in its
    * TOMBSTONE-GATED corpus — a taken-down test doc's grams must stop
    * dropping train docs, exactly as its text stops shaping every other
    * maintained artifact. The test-side sketch is memoized as
    * `bloomName` over the snapshot of `inputs`, the tables `d` reads
    * (see [[bloomSketch]]): callers with different evidence frames over
    * one dir MUST use distinct names (a sketch built on the smaller
    * frame would silently miss the larger frame's grams — Bloom false
    * negatives are missed contamination). */
  private[graft] def contaminatedTrainDocsOf(s: SparkSession,
      bloomName: String, inputs: Seq[String], d: DataFrame): DataFrame = {
    val g = grams8OfDocs(
      d.select(col("doc_id"), splitBucket.as("bucket"), col("text")))
    val testGrams = g.filter(col("bucket") >= 90).select("gram").distinct()
    bloomFiltered(s, bloomName, inputs, testGrams, g.filter(col("bucket") < 80))
      .join(testGrams, "gram")
      .select("doc_id").distinct()
  }

  /** d10: INCREMENTAL near-dup detection — the shape a growing corpus
    * actually runs every ingest cycle: only the NEW batch's banded
    * signatures probe the full signature table (new×all: catches
    * new-vs-existing AND new-vs-new), so the per-cycle cost is
    * O(|batch| + collisions), never the O(|corpus|²-ish) full self-join
    * d03 re-pays when run from scratch. Verified exact Jaccard on the
    * candidates, same contract as d03. The "new batch" here is the
    * newest 10% of doc ids (stand-in for a delta load; in the pipeline
    * the batch frame comes straight from the ingest micro-batch).
    * Canonical orientation: the new doc is `new_doc`; a new-new pair is
    * emitted once (smaller id first). */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text")
    // Native signatures + pair-grain verification (the d03 rationale:
    // no exploded shingle frame, no corpus-wide verify joins; the
    // delta shape is unchanged — only the batch side probes).
    val banded = bandedSignaturesOfDocs(d)
    val cutoff = d.agg((max(col("doc_id")) * 9).as("c9"))
    val withCut = banded.crossJoin(broadcast(cutoff))
    val newSide = withCut.filter(col("doc_id") * 10 > col("c9"))
    val cand = newSide.as("a")
      .join(withCut.as("b"), bandEq && col("a.doc_id") =!= col("b.doc_id") &&
        (col("b.doc_id") * 10 <= col("b.c9") ||
          col("a.doc_id") < col("b.doc_id")))
      .select(col("a.doc_id").as("new_doc"), col("b.doc_id").as("other_doc"))
      .distinct()
    pairJaccard(cand, d, "new_doc", "other_doc",
      textsTable = Some(s"$dir/documents.parquet"))
  }

  /** d11: exact-substring duplication detection — the memorization-grade
    * modality (a verbatim 30-token window shared between two documents
    * is training-data duplication even when whole-document similarity is
    * low, so d01–d03 never flag it; the standard treatment uses ~50 BPE
    * tokens, 30 whitespace tokens here sized to the corpus' median
    * length). Shape: distinct per-doc window hashes → ONE hash
    * aggregation by window → emit windows seen in >1 document with the
    * doc-id range. The shuffle carries |distinct windows| hashed keys —
    * the same cost class as d01, nothing pairwise. */
  def substringDupes(s: SparkSession, dir: String): DataFrame = {
    // Distinct 30-token windows per doc via the one-pass gram kernel
    // (the shinglesOfDocs rationale at n = 30): the corpus-wide
    // DISTINCT exchange under the window hash agg is gone.
    val g = docs(s, dir).select(col("doc_id"),
      explode(graft.functions.DistinctGrams(col("text"), 30)).as("gram"))
    // countDistinct, not count: the grain is the 32-bit window hash, and
    // two DIFFERENT windows of one document colliding on h32 must not
    // count that document twice — n_docs is distinct documents per hash.
    g.groupBy(h32(col("gram")).as("gram_hash"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .filter(col("n_docs") >= 2)
  }

  /** s05: cell-blocked semantic dedup (the SemDeDup shape) — d05's scale
    * path, standing to it exactly as d03 stands to d02: instead of the
    * all-pairs O(n²) cosine join, every vector is assigned to its nearest
    * coarse-quantizer cell (s03's IVF machinery, broadcast centroids) and
    * only WITHIN-CELL pairs are compared — Σ|cell|² work, shuffled by
    * cell key. Recall bound: a near-dup pair split across two cells is
    * missed (the standard blocking trade; finer cells trade recall for
    * cost like nprobe does in s03). Each vector is MULTI-ASSIGNED to its
    * top-4 cells (the s03 nprobe dial on the indexing side): on the √n
    * quantizer's 32 hash-sampled cells (500 vectors, stride 22), top-3
    * measured 0.572 recall vs the exact d05 pairs on the near-uniform
    * synthetic embeddings, top-4 0.759 (195/257) — DedupSpec pins the
    * 0.6 floor. On clustered production embeddings
    * the same operator concentrates near-dups into one cell and the
    * multi-assignment factor can drop. Emits pairs at the d05 threshold
    * so the two operators' outputs are directly comparable. */
  def semdedupCells(s: SparkSession, dir: String): DataFrame = {
    val e = quantized(s, dir)
    val assigned = imiRankB(e, coarseBooks(s, dir, e), "vec_id", 2)
      .filter(col("rn") <= 4)
      .select(col("vec_id"), col("cent_id").as("cell"))
    val cand = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    cand
      .join(e.select(col("vec_id").as("vec_a"), col("q").as("qa"),
        col("s2").as("sa")), "vec_a")
      .join(e.select(col("vec_id").as("vec_b"), col("q").as("qb"),
        col("s2").as("sb")), "vec_b")
      .withColumn("dot", dot)
      .withColumn("cos_ppm", cosPpm)
      .filter(col("cos_ppm") >= 350000)
      .select("vec_a", "vec_b", "cos_ppm")
  }

  /** t26: hard-negative mining — the CONTRASTIVE-TRAINING data
    * operator that rides the same cell structure s05's dedup does: for
    * each document, the k = 3 most-similar same-cell documents BELOW
    * the near-dup threshold (cos < 0.35). Random negatives are easy
    * and teach a model nothing; near-dups are positives (s05 finds
    * those); the band between them — close enough to share a cell,
    * distinct enough to not be a duplicate — is exactly what a
    * contrastive or embedding-finetune pipeline mines ("hard
    * negatives"). Ranked hardest-first (cos desc, ties by negative
    * id); both pair directions count, so every co-located doc gets its
    * own negatives.
    *
    * Scale shape: s05's cost verbatim — the candidate join is
    * cell-blocked (never all-pairs), exact cosine at candidate grain
    * by key join, one window per doc over its ≤cell-sized candidate
    * set. At 100 TB this reads the stored index's thin membership rows
    * exactly as s09 does; the one-shot form here is the oracle-anchor
    * recompute path. */
  def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    val e = quantized(s, dir)
    val assigned = imiRankB(e, coarseBooks(s, dir, e), "vec_id", 2)
      .filter(col("rn") <= 4)
      .select(col("vec_id"), col("cent_id").as("cell"))
    hardNegativesFrom(assigned, e)
  }

  /** t26 OFF THE STORED INDEX — the s05→s09 storage-for-recompute swap
    * applied to hard-negative mining: candidate generation self-joins
    * the index's thin (cell, vec_id) membership rows (ALL top-4
    * assignments — exactly t26's multi-assignment) instead of
    * re-deriving the corpus-wide cell assignment per invocation; the
    * below-threshold band filter, exact cosine at candidate grain, both
    * directions, and the top-3 hardest-first window are unchanged
    * (shared [[hardNegativesFrom]], so the two forms cannot drift).
    * Output ≡ t26 row-for-row — same oracle SQL, the s05/s09 pattern.
    *
    * At 100 TB the per-invocation cost drops from assign-the-corpus
    * (n·√n integer dots through the broadcast quantizer — the one
    * deliberate non-equi join in t26's one-shot plan) to a two-column
    * scan of the index plus the cell-grain self-join: the mining job
    * rides the same stored artifact every other cell consumer amortizes
    * (s08 serving, s09 dedup, d13 resolution). PlanSpec pins the
    * indexed plan contains no nested-loop join. */
  def hardNegativesIndexed(s: SparkSession, dir: String): DataFrame =
    hardNegativesAt(s, dir, annIndexPath(s, dir))

  /** [[hardNegativesIndexed]] against an explicit index location — the
    * entry CorpusService.hardNegativesReport serves off its MAINTAINED
    * index (`dir` supplies the full vectors for the exact band
    * scoring; the index supplies the cell membership). `dropIds` is the
    * tombstone dial: deleted docs must appear neither as anchors nor as
    * negatives in the exported training pairs, so the filter lands on
    * BOTH the membership rows (candidate generation) and the quantized
    * vector frame (scoring) — the same immediately-on-delete contract
    * every other served surface honors. */
  def hardNegativesAt(s: SparkSession, dir: String, indexPath: String,
                      dropIds: Option[DataFrame] = None): DataFrame = {
    val idx0 = s.read.parquet(indexPath).select(col("cell"), col("vec_id"))
    val e0 = quantized(s, dir)
    val (idx, e) = dropIds.fold((idx0, e0)) { d =>
      val t = d.select(col(d.columns.head).as("vec_id"))
      (idx0.join(t, Seq("vec_id"), "left_anti"),
        e0.join(t, Seq("vec_id"), "left_anti"))
    }
    hardNegativesFrom(idx, e)
  }

  /** The shared scoring core of t26 and its indexed twin, at ASSIGNMENT
    * grain: `assigned` is any (cell, vec_id) membership frame (recomputed
    * top-4 for the one-shot, the stored index's thin rows for the
    * served form); candidates are cell-blocked (never all-pairs), exact
    * cosine by key join into `e`, kept in the hard-negative band
    * (below the near-dup cut), symmetrized, top-3 hardest-first. */
  private[queries] def hardNegativesFrom(assigned: DataFrame, e: DataFrame): DataFrame = {
    val cand = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    val scored = cand
      .join(e.select(col("vec_id").as("vec_a"), col("q").as("qa"),
        col("s2").as("sa")), "vec_a")
      .join(e.select(col("vec_id").as("vec_b"), col("q").as("qb"),
        col("s2").as("sb")), "vec_b")
      .withColumn("dot", dot)
      .withColumn("cos_ppm", cosPpm)
      .filter(col("cos_ppm") < 350000)
      .select("vec_a", "vec_b", "cos_ppm")
    // Both directions: each doc mines from its own perspective.
    val sym = scored
      .select(col("vec_a").as("doc_id"), col("vec_b").as("negative_id"),
        col("cos_ppm"))
      .unionByName(scored.select(col("vec_b").as("doc_id"),
        col("vec_a").as("negative_id"), col("cos_ppm")))
    // Top-3 via the typed map-side topKPerGroup aggregator, not a
    // window (round-17 measurement: the hard-negative band keeps
    // ~99.6% of cell candidates — near-uniform embeddings rarely cross
    // the near-dup cut — so the symmetrized frame is ~2× the candidate
    // volume and the window exchanged+sorted 1.4M rows at sf0.1 for a
    // 3-row-per-doc answer, ~0.8 s of t26's 1.9; measured 1.85 → 1.37
    // isolated). NOTE the round's counter-measurement: the same
    // transform applied to the ANN coarse passes (50k–500k-row inputs)
    // LOST 2–3× — the typed aggregator's per-row encoder conversion
    // only beats the codegen'd window when the per-reducer row volume
    // is large (here: millions symmetrized), so the window form stays
    // everywhere else. Ordering identical to the window's (the
    // oracle's form, q25's pattern).
    topKPerGroup(sym, "doc_id", col("cos_ppm"), "negative_id", 3,
        "cos_ppm", "rank")
      .select("doc_id", "negative_id", "cos_ppm", "rank")
  }

  /** s09: s05's semantic dedup served off the STORED index — the same
    * storage-for-recompute swap s08 makes for ANN serving, applied to
    * the dedup modality. Candidate generation self-joins the index's
    * thin (cell, vec_id) membership rows — ALL top-4 assignments,
    * exactly s05's multi-assignment — instead of re-deriving the
    * corpus-wide assignment per invocation; exact cosine verification
    * at candidate grain is unchanged (full vectors by key join). Output
    * ≡ s05 row-for-row (SemDedupIndexSpec; same oracle SQL).
    *
    * At 100 TB the per-invocation cost drops from assign-the-corpus
    * (n·√n dot products through the broadcast-quantizer cross join —
    * the one deliberate non-equi join in s05's plan) to a two-column
    * scan of the index plus the collision-grain self-join: the
    * assignment work is paid once at build/append time and amortized
    * across every consumer of the cell structure (s05's pairs, d13's
    * resolution, s08's serving). PlanSpec pins the difference: s09's
    * plan contains NO nested-loop join at all. */
  def semdedupIndexed(s: SparkSession, dir: String): DataFrame = {
    val a = annIndex(s, dir).select(col("cell"), col("vec_id"))
    val e = quantized(s, dir)
    val cand = a.as("x").join(a.as("y"),
        col("x.cell") === col("y.cell") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
    cand
      .join(e.select(col("vec_id").as("vec_a"), col("q").as("qa"),
        col("s2").as("sa")), "vec_a")
      .join(e.select(col("vec_id").as("vec_b"), col("q").as("qb"),
        col("s2").as("sb")), "vec_b")
      .withColumn("dot", dot)
      .withColumn("cos_ppm", cosPpm)
      .filter(col("cos_ppm") >= 350000)
      .select("vec_a", "vec_b", "cos_ppm")
  }

  /** d09: train/test contamination check — the evaluation-integrity pass
    * of a training pipeline: does any TEST document share a long n-gram
    * with any TRAIN document (benchmark leakage)? Splits are t06's
    * content-hash assignment, n-grams are 8 tokens (3-gram overlap is
    * ubiquitous natural language; 8-gram overlap is evidence of copying).
    * Shape: distinct train 8-grams (one hash agg) equi-joined to test
    * 8-gram rows — a hash join on the shingle key, never a doc×doc
    * comparison; output is per-test-doc hit counts.
    *
    * Bloom pre-pass: before the equi-join, test gram rows are filtered
    * through a broadcast Bloom filter built over the distinct train
    * grams (fpp 1%). Correctness is unaffected — a Bloom filter has no
    * false negatives, and its ~1% false positives are exactly what the
    * equi-join already rejects — but the join's shuffle now carries only
    * true hits plus 1% of the misses. At 100 TB the overwhelming
    * majority of test grams are NOT contaminated, so this cuts the
    * test-side shuffle by ~the non-hit fraction (PlanSpec pins the
    * filter sits below the join). The sketch itself is sized from the
    * measured train-gram count (~1.2 GB per 10⁹ distinct grams at 1% —
    * a broadcast-scale object; raise fpp to shrink it). */
  def contamination(s: SparkSession, dir: String): DataFrame = {
    val grams = grams8(s, dir)
    val trainGrams = grams.filter(col("bucket") < 80)
      .select("gram").distinct()
    // The sketch is a pure function of `dir`'s train split, so it is
    // built ONCE per snapshot of the documents table: rebuilding per
    // invocation cost three driver actions per bench iteration and
    // leaked a new session-lifetime broadcast each time (the deployed
    // shape builds the sketch once per corpus refresh too). Build = two
    // bounded actions over the persisted train grams, then the cache
    // releases — the returned plan's exact join recomputes trainGrams
    // once, as it did before the pre-pass.
    bloomFiltered(s, "bloom#train", Seq(s"$dir/documents.parquet"),
        trainGrams, grams.filter(col("bucket") >= 90))
      .join(trainGrams, "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared_8grams"))
  }

  /** t14: repetition-based quality gating (the Gopher-rule family):
    * per-document duplicate-bigram fraction and top-bigram fraction —
    * boilerplate and generation loops show up as repeated n-grams long
    * before they show up in t02's stopword/length heuristics. Two
    * stacked hash aggs ((doc, bigram) counts → per-doc moments), all
    * ratios integer ppm. Docs with fewer than 2 tokens have no bigrams
    * and drop out (same contract in the oracle). */
  def repetitionQuality(s: SparkSession, dir: String): DataFrame = {
    val bg = toks(s, dir).select(col("doc_id"), explode(expr(
      """CASE WHEN size(t) < 2 THEN CAST(array() AS array<string>)
        |ELSE transform(sequence(0, size(t) - 2),
        |               i -> concat_ws(' ', t[i], t[i+1])) END"""
        .stripMargin)).as("g"))
    bg.groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_bigrams"),
        count(lit(1)).as("n_distinct_bigrams"),
        max(col("c")).as("top_c"))
      .select(col("doc_id"),
        col("n_bigrams"),
        col("n_distinct_bigrams"),
        ppm(col("n_bigrams") - col("n_distinct_bigrams"), col("n_bigrams"))
          .as("dup_bigram_ppm"),
        ppm(col("top_c"), col("n_bigrams")).as("top_bigram_ppm"))
      .withColumn("repetition_ok",
        when(col("dup_bigram_ppm") < 200000 &&
          col("top_bigram_ppm") < 100000, 1).otherwise(0))
  }

  /** t15: token-balanced output sharding — the write-side twin of t09's
    * packing: every document assigned to one of 8 output shards such
    * that per-shard token totals stay balanced. Round-robin by global
    * size rank (descending) is the parallelizable approximation of LPT
    * greedy: consecutive ranks go to different shards, so each shard
    * gets one doc from every size stratum. The global ordinal uses the
    * q24 recomposition — histogram rank + tie-group position — so no
    * unpartitioned window ever touches the data grain and the plan
    * stays in whole-stage codegen. Output is the per-shard manifest
    * (doc/token totals) a writer would fan out on. */
  def shardAssign(s: SparkSession, dir: String): DataFrame = {
    val t = toks(s, dir)
      .select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"))
    val hw = Window.orderBy(col("n_tokens").desc)
    val hist = t.groupBy("n_tokens").agg(count(lit(1)).as("cnt"))
      .withColumn("rnk0",
        coalesce(sum(col("cnt")).over(hw.rowsBetween(
          Window.unboundedPreceding, -1)), lit(0L)) + lit(1L))
      .drop("cnt")
    val tieW = Window.partitionBy(col("n_tokens")).orderBy(col("doc_id").asc)
    t.join(broadcast(hist), Seq("n_tokens"))
      .withColumn("rn",
        col("rnk0") - lit(1L) + row_number().over(tieW).cast("long"))
      .withColumn("shard_id", (col("rn") - lit(1L)) % lit(8L))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
  }

  /** t05: text normalization — strip non-alphanumerics, collapse runs of
    * spaces, trim, lowercase; emit the normalized text, its portable hash
    * and length. Narrow codegen'd map, the canonical pre-dedup cleanup
    * pass of a training-data pipeline. */
  def textNormalize(s: SparkSession, dir: String): DataFrame = {
    val norm = lower(trim(regexp_replace(
      regexp_replace(col("text"), "[^a-zA-Z0-9 ]", ""), " +", " ")))
    docs(s, dir).select(col("doc_id"), norm.as("norm_text"),
      h32(norm).as("norm_hash"),
      length(norm).as("n_chars_norm"))
  }

  /** t06: deterministic stratified train/valid/test split — the split is a
    * pure function of the content hash (h32 mod 100: 80/10/10), not an RNG,
    * so membership is stable across runs, engines and repartitionings (the
    * property a reproducible training pipeline needs; rand(seed) sampling
    * is partition-order-dependent). Output: per (lang, split) counts. */
  def stratifiedSplit(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("lang"),
        when(splitBucket < 80, "train").when(splitBucket < 90, "valid")
          .otherwise("test").as("split"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"))

  /** t07: corpus length profile — token-count histogram in buckets of 10.
    * One narrow map + hash agg; the profiling pass that sizes
    * truncation/packing decisions upstream of training. */
  def lengthHistogram(s: SparkSession, dir: String): DataFrame =
    toks(s, dir)
      .select((idiv(size(col("t")).cast("long"), lit(10L)) * 10).as("bucket_lo"))
      .groupBy("bucket_lo")
      .agg(count(lit(1)).as("n_docs"))

  /** t08: vocabulary building — top-20 tokens per language by frequency
    * (ties by token) — the vocab-induction pass of a tokenizer pipeline.
    * The per-lang window runs over (lang, token) counts, already one row
    * per distinct token: |vocab| grain, not |tokens|. */
  def vocabTopK(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("c").desc, col("tok").asc)
    tokRows(s, dir).groupBy(col("lang"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 20)
      .select(col("lang"), col("rnk").cast("int").as("rnk"),
        col("tok"), col("c"))
  }

  /** t09: sequence packing — sequential fill of documents into
    * 2048-token context bins per language stratum: bin = floor(tokens
    * packed before this doc / budget) over a deterministic
    * (n_tokens desc, doc_id) order. The running sum is per-lang, so the
    * window is partitioned (packing globally would be the single-partition
    * anti-pattern; strata are how a distributed packer shards anyway).
    * Sequential fill is the standard parallelizable approximation of
    * greedy first-fit. */
  def packBins(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n_tokens").desc, col("doc_id").asc)
    toks(s, dir)
      .select(col("doc_id"), col("lang"), size(col("t")).cast("long").as("n_tokens"))
      .withColumn("cum_before",
        coalesce(sum(col("n_tokens")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        idiv(col("cum_before"), lit(2048L)).as("bin_id"))
  }

}
