package graft.queries

import graft.Tables
import graft.functions.{DotI64, ImiCells, Portable}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The BPE tokenizer family (t32–t36): distributed vocabulary
  * induction, stored-artifact token counting, subword packing.
  *
  * One mixin of [[Extensions]] (a pure file split of the original
  * single object — every member still resolves on Extensions.type via
  * the self-type; call sites and the query registry are unchanged). */
private[queries] trait ExtBpe { this: Extensions.type =>
  import Portable.{h32, idiv, ppm, P}

  // -------------------------------------------------- BPE tokenizer induction

  /** Merge rounds learned by t32/t33 — the vocab-size dial. 12 keeps the
    * unrolled DuckDB oracle twin the d13 size class; production would set
    * vocab_size − |alphabet|. */
  private[graft] val BpeRounds = 12

  /** Corpus word-frequency table with each word's initial symbol sequence
    * (characters + a `</w>` end-of-word marker — the Sennrich BPE
    * alphabet). This is the trainer's ONLY corpus-grain step: one hash
    * agg collapses the 100 TB token stream to the distinct-word table
    * (Heaps-law — millions of rows, not billions), and every merge round
    * after it runs at word grain. The char explode uses an explicit
    * substring transform, not split(word, ''), whose trailing-empty
    * behavior differs across engines. */
  private[graft] def bpeWords(d: DataFrame): DataFrame =
    d.select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .withColumn("seq", expr(
        "concat(transform(sequence(1, length(word)), i -> substring(word, i, 1)), array('</w>'))"))

  /** Adjacent symbol pairs weighted by word frequency — the per-round
    * merge-candidate statistics. Overlapping occurrences count (zip
    * adjacency), exactly as the reference BPE's get_stats does. */
  private[queries] def bpePairs(words: DataFrame): DataFrame =
    words.select(col("cnt"), explode(expr(
        """CASE WHEN size(seq) < 2 THEN CAST(array() AS array<struct<l:string,r:string>>)
          |ELSE transform(sequence(1, size(seq) - 1),
          |               i -> named_struct('l', seq[i-1], 'r', seq[i])) END"""
          .stripMargin)).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("cnt")).as("c"))

  /** One greedy merge application: every leftmost non-overlapping (l, r)
    * adjacency becomes the fused symbol, as a left fold over the symbol
    * array. The fold IS the reference semantics: it never chains onto a
    * symbol it just produced (l+r = l is impossible), and for runs of a
    * self-pair (l = r) it takes every other occurrence from the run head
    * — note a string replace(' l r ', ' lr ') would NOT (consecutive
    * occurrences share their separator space, so runs ≥ 5 regroup).
    * Deliberately no size guard: the fold is correct on 0/1-element
    * arrays, and referencing `seqCol` exactly once keeps a CHAIN of
    * applications (bpeTokensUnder folds the whole merge list into one
    * expression) linear — a guard's second reference would blow the
    * nested tree up 3^rounds. */
  private[queries] def bpeApply(seqCol: Column, l: String, r: String): Column =
    aggregate(seqCol, array().cast("array<string>"),
      (acc, x) => when(size(acc) > 0 &&
          element_at(acc, -1) === lit(l) && x === lit(r),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(x))))

  /** Word-table size below which the trainer COLLECTS the table and
    * runs the merge loop on the driver — the coarseBooks/hot-census
    * pattern at the BPE dial. The corpus-grain work (bpeWords' hash
    * agg) is identical either way; what the rounds themselves cost is
    * rounds × fixed stage overhead when the word table is small (the
    * d13 lesson: data cost nil, scheduling dominates — measured ~2.5 s
    * of overhead for 12 rounds over a 31-word table at sf0.1). A
    * Heaps-law table under the cap is a few MB of (word, cnt, seq)
    * rows; above it (real web corpora: millions of distinct words) the
    * distributed rounds run as before. Both paths are the SAME greedy
    * algorithm — BpeSpec pins merges and final table equal. */
  private[graft] val BpeDriverWordCap = 65536L

  /** UTF-8 byte order — the order BOTH anchors compare strings in
    * (Spark's StringType sorts UTF8String bytes; DuckDB compares UTF-8
    * bytes), which is code-POINT order. Java's String '<' is UTF-16
    * code-UNIT order, and the two disagree exactly where surrogate
    * pairs sort against [U+E000, U+FFFF]: a supplementary-plane symbol
    * (emoji — common in web corpora) reads 0xD8xx-first in UTF-16 but
    * 0xF0-first in UTF-8, so a count TIE between such symbols would
    * pick a different merge on the driver than distributed/oracle.
    * BpeSpec's supplementary-tie fixture pins the agreement. */
  private[graft] def utf8Lt(a: String, b: String): Boolean =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0

  /** The greedy merge loop over a collected word table — bpeApply's
    * left-fold semantics replicated exactly (never chains onto a
    * just-fused symbol; every-other occurrence in self-pair runs), and
    * the argmax is the same (count desc, then (l, r) lexicographic IN
    * UTF-8 BYTE ORDER — [[utf8Lt]]) total order, so ties break
    * identically to the distributed orderBy…limit(1). */
  private[graft] def bpeTrainLocal(
      words0: Array[(String, Long, Array[String])], rounds: Int)
      : (Seq[(Int, String, String, Long)],
         Array[(String, Long, Array[String])]) = {
    def applyMerge(seq: Array[String], l: String, r: String): Array[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < seq.length) {
        if (out.nonEmpty && out.last == l && seq(i) == r)
          out(out.length - 1) = l + r
        else out += seq(i)
        i += 1
      }
      out.toArray
    }
    var words = words0
    val merges =
      scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var k = 1
    var exhausted = false
    while (k <= rounds && !exhausted) {
      val stats = new java.util.HashMap[(String, String), Long]()
      for ((_, cnt, seq) <- words; i <- 1 until seq.length)
        stats.merge((seq(i - 1), seq(i)), cnt, (a, b) => a + b)
      if (stats.isEmpty) exhausted = true
      else {
        var bl: String = null
        var br: String = null
        var bc = Long.MinValue
        stats.forEach { (p, c) =>
          val better = c > bc || (c == bc &&
            (utf8Lt(p._1, bl) || (p._1 == bl && utf8Lt(p._2, br))))
          if (better) { bl = p._1; br = p._2; bc = c }
        }
        merges += ((k, bl, br, bc))
        words = words.map { case (w, cnt, seq) =>
          (w, cnt, applyMerge(seq, bl, br))
        }
        k += 1
      }
    }
    (merges.toSeq, words)
  }

  /** Distributed BPE trainer: the learned merge list plus the word table
    * tokenized under all of it. The corpus collapses to the distinct-
    * word table in ONE hash agg; below [[BpeDriverWordCap]] the merge
    * loop then runs on the driver ([[bpeTrainLocal]] — one collect, no
    * per-round jobs), above it each round is one tiny weighted
    * pair-count agg, a ONE-ROW argmax collect (count desc, then (l, r)
    * lexicographic — the scalar decision every distributed BPE trainer
    * makes per round), and a narrow fold over the word table,
    * localCheckpoint-ed so round k+1's lineage doesn't replay rounds
    * 1..k; superseded rounds' blocks are freed eagerly and the caller
    * owns (and may free) the returned frame's. Stops early if the
    * corpus runs out of pairs. */
  private[graft] def bpeTrain(d: DataFrame, rounds: Int = BpeRounds)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    var words = bpeWords(d).localCheckpoint()
    if (words.count() <= BpeDriverWordCap) {
      val arr = words.select("word", "cnt", "seq").collect().map(r =>
        (r.getString(0), r.getLong(1), r.getSeq[String](2).toArray))
      freeCkpt(words)
      val (merges, fin) = bpeTrainLocal(arr, rounds)
      val s = d.sparkSession
      import s.implicits._
      (merges, fin.toSeq.toDF("word", "cnt", "seq"))
    } else bpeTrainFrom(words, rounds)
  }

  /** The always-distributed trainer — BpeSpec's independent anchor for
    * the driver-side loop (and the code path any over-cap corpus takes,
    * exercised at spec grain by calling it directly). */
  private[graft] def bpeTrainDistributed(d: DataFrame,
                                         rounds: Int = BpeRounds)
      : (Seq[(Int, String, String, Long)], DataFrame) =
    bpeTrainFrom(bpeWords(d).localCheckpoint(), rounds)

  private[graft] def bpeTrainFrom(words0: DataFrame, rounds: Int)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    var words = words0
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var k = 1
    var exhausted = false
    while (k <= rounds && !exhausted) {
      val best = bpePairs(words)
        .orderBy(col("c").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, c) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((k, l, r, c))
        val next = words.withColumn("seq", bpeApply(col("seq"), l, r)).localCheckpoint()
        freeCkpt(words)
        words = next
        k += 1
      }
    }
    (merges.toSeq, words)
  }

  /** t32: distributed BPE vocabulary induction — the tokenizer-training
    * operator a pre-training pipeline runs before anything tokenizes.
    * Output is the learned merge table (rank, lhs, rhs, merged,
    * pair_count at merge time), ~rounds rows. The oracle twin unrolls
    * the identical greedy fold per round in DuckDB (bpeVocabOracle). */
  def bpeVocab(s: SparkSession, dir: String): DataFrame = {
    val (merges, fin) = bpeTrain(docs(s, dir))
    freeCkpt(fin)
    import s.implicits._
    merges.toDF("rank", "lhs", "rhs", "pair_count")
      .select(col("rank"), col("lhs"), col("rhs"),
        concat(col("lhs"), col("rhs")).as("merged"), col("pair_count"))
      .orderBy(col("rank"))
  }

  /** t33: BPE token counting — every document tokenized under the t32
    * vocabulary, reported as whitespace-token vs subword counts plus the
    * integer subwords-per-word ratio. The per-word subword table is the
    * broadcast side (Heaps-law small against the corpus), so the corpus
    * pass is one broadcast join + hash agg — the token-budget accounting
    * shape (t09/t18/t28 consume counts like these). */
  def bpeTokens(s: SparkSession, dir: String): DataFrame = {
    val (_, fin) = bpeTrain(docs(s, dir))
    val perWord = fin.select(col("word"), size(col("seq")).cast("long").as("n_sub"))
    docs(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .join(broadcast(perWord), "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_ws_tokens"), sum(col("n_sub")).as("n_bpe_tokens"))
      .select(col("doc_id"), col("n_ws_tokens"), col("n_bpe_tokens"),
        ppm(col("n_bpe_tokens"), col("n_ws_tokens")).as("bpe_per_word_ppm"))
  }

  /** t32's storage half: persist the learned merge table as the
    * TOKENIZER ARTIFACT — the rank-ordered merge list is exactly what a
    * trained tokenizer ships (merges.txt), and unlike a word→subwords
    * table it tokenizes words the training corpus never saw. One file:
    * the artifact is `rounds` rows. */
  private[graft] def buildBpeVocab(s: SparkSession, d: DataFrame,
                                   path: String,
                                   rounds: Int = BpeRounds): Unit = {
    val (merges, fin) = bpeTrain(d, rounds)
    freeCkpt(fin)
    import s.implicits._
    merges.toDF("rank", "lhs", "rhs", "pair_count")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** The materialized tokenizer location for a corpus dir — built once
    * per snapshot of its documents table (the offline tokenizer-training
    * job; queries read). A FROZEN vocab would stay valid for serving —
    * new words still tokenize; retraining is a quality event, not a
    * correctness one (the quantizer-epoch asymmetry) — but a one-shot
    * query reads the vocab of the corpus as it is. The superseded
    * vocab's temp dir is deleted when the fresh one replaces it. */
  private[graft] def bpeVocabPath(s: SparkSession, dir: String): String =
    graft.Snapshot.memo(s, "bpeVocab", Seq(s"$dir/documents.parquet"))({
      val p = java.nio.file.Files.createTempDirectory("graft-bpevocab")
        .toFile.getAbsolutePath
      buildBpeVocab(s, docs(s, dir), p)
      p
    }, graft.Snapshot.deleteDir(s))

  /** The stored merge list, rank-ordered — driver-side tokenizer config
    * (the broadcast-ADC-lookup size class: `rounds` rows, never corpus
    * grain). */
  private[graft] def bpeMergesAt(s: SparkSession, path: String): Seq[(String, String)] =
    s.read.parquet(path).orderBy(col("rank"))
      .select(col("lhs"), col("rhs")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq

  /** Tokenize a text frame under a FROZEN merge list: distinct words
    * fold through the merges in learned rank order (the reference BPE's
    * apply loop), occurrences broadcast-join back, one hash agg per
    * doc. This is the every-day serving shape — the corpus pass never
    * retrains — and it handles unseen words, which is why the artifact
    * stores merges and not a word table. */
  /** FULL tokenization (the subword sequences, not just counts) of an
    * arbitrary text frame under a FROZEN merge list — the request-path
    * primitive behind CorpusService.tokenize: one row per word
    * occurrence, positioned, carrying the word's subword array from
    * the rank-ordered greedy fold. Distinct words fold ONCE and
    * broadcast back onto occurrences (the bpeOccCounts shape), so the
    * per-request cost is |distinct words| folds + one narrow join —
    * unseen words are simply distinct words whose fold finds fewer
    * merges, never an error (the frozen-artifact contract). */
  private[graft] def bpeTokenizeUnder(d: DataFrame,
                                      merges: Seq[(String, String)])
      : DataFrame = {
    val occ = d.select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      .filter(col("word") =!= "")
    val init = expr(
      "concat(transform(sequence(1, length(word)), i -> substring(word, i, 1)), array('</w>'))")
    val folded = merges.foldLeft(init) { case (c, (l, r)) => bpeApply(c, l, r) }
    val perWord = occ.select(col("word")).distinct()
      .select(col("word"), folded.as("subwords"))
    occ.join(broadcast(perWord), "word")
      .select(col("doc_id"), col("pos"), col("word"), col("subwords"))
  }

  private[graft] def bpeTokensUnder(d: DataFrame,
                                    merges: Seq[(String, String)]): DataFrame =
    bpeOccCounts(d, merges)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_ws_tokens"), sum(col("n_sub")).as("n_bpe_tokens"))
      .select(col("doc_id"), col("n_ws_tokens"), col("n_bpe_tokens"),
        ppm(col("n_bpe_tokens"), col("n_ws_tokens")).as("bpe_per_word_ppm"))

  /** Word occurrences of `d` carrying their per-word subword count
    * under `merges`: the distinct words fold once, occurrences
    * broadcast-join the result — the shared corpus pass under every
    * frozen-vocab consumer (t34's doc grain, t36's lang grain). */
  private[queries] def bpeOccCounts(d: DataFrame,
                           merges: Seq[(String, String)]): DataFrame = {
    val keys = col("doc_id") +:
      (if (d.columns.contains("lang")) Seq(col("lang")) else Nil)
    val occ = d.select(keys :+ explode(split(col("text"), " ")).as("word"): _*)
      .filter(col("word") =!= "")
    val init = expr(
      "concat(transform(sequence(1, length(word)), i -> substring(word, i, 1)), array('</w>'))")
    val folded = merges.foldLeft(init) { case (c, (l, r)) => bpeApply(c, l, r) }
    val perWord = occ.select(col("word")).distinct()
      .select(col("word"), size(folded).cast("long").as("n_sub"))
    occ.join(broadcast(perWord), "word")
  }

  /** t34: BPE token counting OFF THE STORED TOKENIZER — t33's serving
    * twin (the s05→s09 / t26→t27 move): the merge list is read from the
    * persisted artifact and applied frozen; no per-invocation training.
    * Same oracle text as t33 — BpeSpec pins them row-for-row, so the
    * fold-under-stored-merges path provably reproduces the trained word
    * table. */
  def bpeTokensStored(s: SparkSession, dir: String): DataFrame =
    bpeTokensUnder(docs(s, dir), bpeMergesAt(s, bpeVocabPath(s, dir)))

  /** t36: tokenizer FERTILITY by language — subwords-per-word under the
    * stored vocab, the standard tokenizer-quality audit: a language
    * whose fertility spikes is under-merged (its scripts never won a
    * merge round) and pays more context budget per word, which is the
    * number vocab-size and data-mixture decisions are actually made on.
    * Same frozen-vocab serving pass as t34, aggregated at (lang) grain
    * — |langs| output rows. */
  def bpeFertility(s: SparkSession, dir: String): DataFrame =
    bpeOccCounts(docs(s, dir), bpeMergesAt(s, bpeVocabPath(s, dir)))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_subwords"))
      .select(col("lang"), col("n_words"), col("n_subwords"),
        ppm(col("n_subwords"), col("n_words")).as("fertility_ppm"))

  /** t37: Count-Min-Sketch heavy hitters — the second SKETCH-family
    * operator (q17's HLL counts distincts; CMS counts frequencies):
    * token frequencies estimated from a d×w = 4×256 integer table that
    * never grows with the corpus, which is what a streaming ingest
    * monitor keeps per shard where the exact t08 agg would keep the
    * whole vocabulary. The estimate is min over d md5-bucketed rows
    * (never an undercount); the report carries the exact count next to
    * it so the overestimate is auditable, and keeps tokens whose
    * ESTIMATE clears total/50 — the sketch, not the oracle, makes the
    * cut, exactly as it would online. Exact-integer md5 bucketing =
    * hash-identical DuckDB twin. Scale: one 4×-exploded hash agg builds
    * the sketch; candidates probe it by BROADCAST (1024 rows). */
  /** CMS geometry: depth 4 rows × width 256 buckets. */
  private[graft] val CmsDepth = 4

  private[graft] def cmsBucket(jc: Column, tok: Column): Column =
    pmod(h32(concat(jc.cast("string"), lit(":"), tok)), lit(256L))

  /** The (j, b, c) partial sketch of a docs frame. CMS is a LINEAR
    * sketch: partial sketches of disjoint doc sets SUM to the union's
    * sketch row-for-row, which is exactly what lets every shard (or
    * every service drain) keep a 4×256 table and the monitor merge
    * them — the property CorpusService.refreshTokenSketch builds on. */
  private[graft] def cmsSketchOf(d: DataFrame): DataFrame =
    d.select(explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("tok"), explode(lit((0 until CmsDepth).toArray)).as("j"))
      .select(col("j"), cmsBucket(col("j"), col("tok")).as("b"))
      .groupBy("j", "b").agg(count(lit(1)).as("c"))

  def cmsHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val occ = docs(s, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
    val sketch = cmsSketchOf(docs(s, dir))
    val total = occ.agg(count(lit(1)).as("t"))
    val cand = occ.groupBy("tok").agg(count(lit(1)).as("exact_count"))
    cand.select(col("tok"), col("exact_count"),
        explode(lit((0 until CmsDepth).toArray)).as("j"))
      .withColumn("b", cmsBucket(col("j"), col("tok")))
      .join(broadcast(sketch), Seq("j", "b"))
      .groupBy("tok", "exact_count").agg(min(col("c")).as("est_count"))
      .crossJoin(broadcast(total))
      .filter(col("est_count") >= idiv(col("t"), lit(50L)))
      .select(col("tok"), col("est_count"), col("exact_count"),
        (col("est_count") - col("exact_count")).as("overcount"))
  }

  /** t35: sequence packing in SUBWORD truth — t28's block-hierarchical
    * packer driven by the stored tokenizer's counts instead of
    * whitespace counts. A trainer's context window is measured in
    * TOKENS, so the real pack boundaries come from the tokenizer; the
    * whitespace-count manifest (t28) is the approximation a pipeline
    * runs only before it has a vocab. Composition, no new shuffle
    * shape: frozen-merge fold over distinct words → broadcast join →
    * per-doc agg → the same prefix-sum packer. */
  def bpePacks(s: SparkSession, dir: String): DataFrame =
    packSpans(bpeTokensStored(s, dir)
      .select(col("doc_id"), col("n_bpe_tokens").as("n_toks")), PackCap,
      estDocs = Some(docsCountOf(s, dir)))

}
