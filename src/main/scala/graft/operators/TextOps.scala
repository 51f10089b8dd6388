package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Checkpoint
import graft.functions._

/** Text analysis for large-scale training-data pipelines: language ID,
  * quality scoring, token counting, fingerprinting. All pure codegen'd
  * built-ins over the `documents` table — embarrassingly parallel scans with
  * map-side aggregation, no shuffle beyond the final small groupBy, so the
  * operators are scan-bound at 100 TB.
  */
object TextOps {

  /** Tiny per-language stopword lists for the n-gram/stopword language-ID
    * heuristic (fastText-style but deterministic and SQL-expressible). */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une"),
    "es" -> Seq("el", "la", "los", "y", "es", "un", "una"))

  private def stopwordHits(w: Column, lang: String): Column =
    countIn(w, stopwords(lang))

  /** Per-document predicted language: argmax over per-language stopword hit
    * counts, 'und' (undetermined) when no list matches; ties break to the
    * first language in sorted order. */
  def langIdOf(text: Column): Column = {
    val w = words(lower(text))
    val langs = stopwords.keys.toSeq.sorted
    val best = langs.tail.foldLeft(
      struct(stopwordHits(w, langs.head).as("h"), lit(langs.head).as("l"))) {
      (acc, l) => when(stopwordHits(w, l) > acc.getField("h"),
        struct(stopwordHits(w, l).as("h"), lit(l).as("l"))).otherwise(acc)
    }
    when(best.getField("h") > 0, best.getField("l")).otherwise(lit("und"))
  }

  /** Language ID confusion: per-(predicted, actual) counts so the oracle is
    * a stable small aggregate. */
  def langIdConfusion(docs: DataFrame): DataFrame =
    docs
      .select(col("lang").as("actual_lang"), langIdOf(col("text")).as("pred_lang"))
      .groupBy(col("actual_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))

  /** Per-document quality score in [0,1]: length, stopword ratio, alpha
    * ratio (the classic pre-training length/punct/stopword gates). */
  def qualityScore(text: Column): Column = {
    val nWords = size(words(text)).cast("double")
    val stopRatio = stopwordHits(words(lower(text)), "en").cast("double") /
      nullif(nWords, lit(0.0))
    val alphaRatio = (length(regexp_replace(text, "[^a-zA-Z]", "")).cast("double") /
      greatest(length(text).cast("double"), lit(1.0)))
    when(nWords < 5, lit(0.0)).otherwise(
      least(nWords / lit(100.0), lit(1.0)) * lit(0.4) +
      least(stopRatio * lit(5.0), lit(1.0)) * lit(0.3) +
      least(alphaRatio, lit(1.0)) * lit(0.3))
  }

  /** Flesch reading-ease per source in integer milli-units:
    * 206.835 − 1.015·(words/sentence) − 84.6·(syllables/word), with
    * sentences = non-overlapping [.!?]+ runs (min 1) and syllables =
    * vowel-group runs — the classic heuristic, composed entirely from
    * integer division so the score is hash-exact cross-engine (regexes in
    * the established RE2 ∩ java.util.regex subset; no lowercasing, which
    * has engine-divergent Unicode edge cases — the vowel class lists both
    * cases instead). One narrow codegen'd scan + one map-side-combined
    * rollup. */
  def readabilityBySource(docs: DataFrame): DataFrame =
    docs
      .select(col("source"),
        size(words(col("text"))).cast("long").as("nw"),
        greatest(lit(1L),
          regexp_count(col("text"), lit("[.!?]+")).cast("long")).as("ns"),
        regexp_count(col("text"), lit("[aeiouyAEIOUY]+")).cast("long").as("sy"))
      .where(col("nw") >= 1)
      .select(col("source"), col("sy"),
        (lit(206835L) - expr("(1015 * nw) div ns") -
          expr("(84600 * sy) div nw")).as("fl"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("fl").as("sum_flesch_milli"),
        min("fl").as("min_flesch_milli"),
        max("fl").as("max_flesch_milli"),
        sum("sy").as("sum_syllables"))

  /** Quality scoring aggregated per source. */
  def qualityBySource(docs: DataFrame): DataFrame = {
    val w = words(col("text"))
    val nWords = size(w).cast("double")
    // nullif: empty docs (0 words) must not hit ANSI divide-by-zero
    val meanWordLen = aggregate(w, lit(0L), (acc, x) => acc + length(x).cast("long"))
      .cast("double") / nullif(nWords, lit(0.0))
    docs.select(col("source"), qualityScore(col("text")).as("score"),
        nWords.as("n_words"), meanWordLen.as("mwl"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("score")), 6).as("avg_score"),
        round(avg(col("n_words")), 6).as("avg_words"),
        round(avg(col("mwl")), 6).as("avg_word_len"))
  }

  /** Token counting: whitespace words + BPE-ish char/4 sub-word surcharge,
    * aggregated per lang ([[graft.functions.tokenCountEstimate]]). */
  def tokenStatsByLang(docs: DataFrame): DataFrame =
    docs.select(col("lang"), tokenCountEstimate(col("text")).as("tok"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tok")).as("total_tokens"),
        round(avg(col("tok")), 6).as("avg_tokens"))

  /** Token-length distribution report per language: p50/p90/p99 of the
    * estimated token count — the corpus-shape summary every curation run
    * prints before and after filtering. Uses EXACT `percentile` (per-group
    * sort) so the DuckDB oracle (`quantile_cont`, same linear
    * interpolation) can hash-match; at 100 TB swap in
    * `approx_percentile(tok, p, accuracy)` — same output columns, sketch
    * merge instead of sort, the standard exactness/scale trade. */
  def lengthQuantiles(docs: DataFrame): DataFrame = {
    val tok = coalesce(tokenCountEstimate(col("text")), lit(0L))
    val ps = percentile(col("tok"), array(lit(0.5), lit(0.9), lit(0.99)))
    docs.select(col("lang"), tok.as("tok"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(element_at(ps, 1), 6).as("p50_tok"),
        round(element_at(ps, 2), 6).as("p90_tok"),
        round(element_at(ps, 3), 6).as("p99_tok"))
  }

  /** Document fingerprint: md5 over the sorted distinct lowercase word set
    * (bag-of-words canonical form — rolling-hash-family fingerprinting,
    * deterministic and engine-portable). Groups with >1 doc are near-dups
    * under word-set identity. */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(words(lower(text))))))

  /** Corpus-wide heavy-hitter n-grams: exact top-k most frequent word
    * n-grams (boilerplate/template detection — the exact counterpart of a
    * count-min sketch pass). One explode + one map-side-combined groupBy;
    * the top-k is TakeOrderedAndProject, never a global sort. Deterministic
    * ties: (count desc, ngram asc). */
  def topNgrams(docs: DataFrame, n: Int, k: Int): DataFrame =
    docs.select(explode(wordShingles(col("text"), n)).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("ngram"))
      .limit(k)

  /** Feature hashing (the HashingTF trick): every document folds its
    * tokens into a fixed-width count vector with NO shuffle — the term
    * universe never needs a vocabulary pass, which is the whole point at
    * 100 TB. The bucket hash is the same portable digit-only-MD5 as
    * [[graft.operators.Sketch]], so the vectors rebuild exactly in SQL.
    * Emitted unpivoted as (doc_id, slot, cnt) — all slots, zeros included,
    * so downstream schemas are fixed-width. */
  def hashingTf(docs: DataFrame, dim: Int): DataFrame = {
    def bucket(c: Column): Column =
      substring(concat(translate(md5(c), "abcdef", ""), lit("000000")),
        1, 6).cast("long") % dim
    // hash each token ONCE into a slots array (projection boundary keeps it
    // single-evaluation), then count per slot with cheap filters — the
    // fold-an-accumulator form re-allocated the counts array per token and
    // measured 4x slower
    docs
      .withColumn("__slots", transform(words(col("text")), w => bucket(w)))
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(0), lit(dim - 1)),
          i => size(filter(col("__slots"), s => s === i.cast("long"))).cast("long")))
        .as(Seq("slot", "cnt")))
  }

  /** Collocation extraction by LIFT — the log-free PMI family member:
    * lift(a,b) = P(ab) / (P(a)·P(b)) computed in exact integer micro-units
    * ((c_ab · N · 1e6) div (c_a · c_b), N = total token count), so ranking
    * is engine-portable with no float drift (log-PMI orders identically
    * for lift > 0 since log is monotone). `minCount` suppresses
    * low-support noise pairs — the standard collocation filter. Two
    * map-side-combined counting passes + a broadcast unigram join.
    *
    * Operating range: the Long product `c_ab · N · 1e6` is exact while
    * `c_ab · N < 9.2e12`. A bigram appearing 1M times in a 1e13-token
    * corpus exceeds that; for such a run, widen the product to
    * decimal(38,0) in this expression AND the oracle together (reordering
    * the divide instead changes the exact quotient). */
  def collocations(docs: DataFrame, minCount: Long, k: Int): DataFrame = {
    val toks = docs.select(explode(words(col("text"))).as("tok"))
    val uni = toks.groupBy("tok").agg(count(lit(1)).as("c1"))
    // total token count folds out of the unigram table — one corpus scan
    // serves both the counts and N
    val n = uni.agg(sum("c1").as("n_toks"))
    val bi = docs.select(explode(wordShingles(col("text"), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("c_ab"))
      .where(col("c_ab") >= minCount)
      .withColumn("w1", element_at(split(col("bigram"), " "), 1))
      .withColumn("w2", element_at(split(col("bigram"), " "), 2))
    bi.join(broadcast(uni.select(col("tok").as("w1"), col("c1").as("c_a"))), Seq("w1"))
      .join(broadcast(uni.select(col("tok").as("w2"), col("c1").as("c_b"))), Seq("w2"))
      .crossJoin(broadcast(n))
      .select(col("bigram"), col("c_ab"),
        expr("(c_ab * n_toks * 1000000) div (c_a * c_b)").as("lift_micro"))
      .orderBy(col("lift_micro").desc, col("bigram"))
      .limit(k)
  }

  /** RAG chunker: split each document into word windows of `size` tokens
    * stepping by `step` (< size ⇒ overlapping context windows). One row per
    * chunk with its word count; a pure narrow map (explode of slices) —
    * zero shuffle, embarrassingly parallel at any corpus size. The final
    * short window is kept (it still carries tail context); empty documents
    * produce no chunks. */
  def chunkDocs(docs: DataFrame, chunkSize: Int, step: Int): DataFrame = {
    require(chunkSize > 0 && step > 0 && step <= chunkSize)
    val w = words(col("text"))
    // Column `/` is double division; the cast truncates toward zero, which
    // equals integer division for the n >= 0 sizes here
    val lastIdx = greatest(((size(w) - 1) / lit(step)).cast("int"), lit(0))
    docs
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(0), lastIdx),
          i => slice(w, i * lit(step) + 1, lit(chunkSize))))
        .as(Seq("chunk_idx", "cw")))
      .where(size(col("cw")) > 0)
      .select(col("doc_id"), col("chunk_idx"),
        array_join(col("cw"), " ").as("chunk_text"),
        size(col("cw")).as("n_tokens"))
  }

  def fingerprintDupGroups(docs: DataFrame): DataFrame =
    docs.groupBy(fingerprint(col("text")).as("fp"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper_id"))
      .where(col("n_docs") > 1)

  /** Text scrubbing (the pre-training cleanup step): mask digit runs (the
    * engine-portable stand-in for PII patterns — phone/ID scrubbing is the
    * same regexp_replace shape), report per-source change stats. Pure
    * codegen'd scan; at 100 TB this runs as a narrow map with zero shuffle
    * before the small rollup. */
  def scrubStats(docs: DataFrame): DataFrame = {
    val scrubbed = regexp_replace(col("text"), "[0-9]+", "#")
    docs.select(col("source"), col("text"), scrubbed.as("scrubbed"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("scrubbed") =!= col("text"), 1L).otherwise(0L)).as("n_changed"),
        sum(length(col("text")) - length(col("scrubbed"))).cast("long").as("chars_removed"))
  }

  // (binary-payload decode lives in [[Multimodal]] — real PNG/JPEG/GIF/BMP
  // header, PCM WAV sample, and BMP pixel decoders, not here)

  /** Byte-volume rollup over payloads treated as opaque binary (the
    * storage-planning probe run before any decode pass). */
  def binaryStatsBySource(docs: DataFrame): DataFrame =
    docs.select(col("source"), octet_length(col("text")).cast("long").as("n_bytes"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_bytes")).as("total_bytes"))

  /** Type-token ratio per source — the lexical-diversity probe of a
    * curation report (low TTR flags boilerplate/templated sources). One
    * explode + one two-aggregate groupBy. */
  def typeTokenBySource(docs: DataFrame): DataFrame =
    docs.select(col("source"),
        explode(graft.functions.words(lower(col("text")))).as("w"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"), count_distinct(col("w")).as("n_types"))
      .withColumn("ttr",
        round(col("n_types").cast("double") / col("n_tokens"), 6))

  /** BPE tokenizer APPLICATION with a fixed, ordered merge table — the
    * real token accounting a training pipeline runs (not the regex
    * estimate of [[graft.expr.TokenEstimate]]). Rules apply sequentially
    * in rank order, each merging all non-overlapping occurrences leftmost
    * first — equivalent to classic greedy BPE for any well-formed table
    * (producers before consumers, which real learned tables satisfy).
    *
    * The whole pass is string-engine arithmetic — no UDF, no per-row
    * interpreter: a word becomes `D c1 DD c2 DD … D` (D = U+001F), each
    * rule (a,b) is ONE `replace(s, D a DD b D, D ab D)` — the shared
    * single-D at a chain boundary makes consecutive pairs merge in one
    * pass (see BpeSpec) — and tokens split back on DD. Chained replaces
    * stay inside whole-stage codegen; the merge table ships as literals.
    * The same construction runs verbatim in ANSI SQL, which is what makes
    * the operator oracle-checkable. */
  def bpeTokens(docs: DataFrame,
                merges: Seq[(String, String)]): DataFrame = {
    val D = "\u001F"; val DD = D + D
    val word = explode(graft.functions.words(lower(col("text")))).as("word")
    val seeded = concat(
      expr(s"substring(regexp_replace(word, '(.)', " +
        s"concat(char(31), char(31), '$$1')), 2)"),
      lit(D))
    val folded = merges.foldLeft(seeded) { case (c, (a, b)) =>
      call_function("replace", c, lit(D + a + DD + b + D), lit(D + a + b + D))
    }
    docs.select(word)
      .select(explode(split(trim(folded, D), DD)).as("token"))
  }

  /** BPE token count of a TEXT column under a fixed merge table — the
    * TOKENIZER-EXACT budget option for
    * [[Retrieval.budgetedAssemble]]'s `tokenCount` hook (the reference
    * counts its budget with a real HF tokenizer, retriever.py:67-69; the
    * default `tokenCountEstimate` is the documented heuristic). Same
    * delimiter seed/fold as [[bpeTokens]] applied per word inside one
    * `aggregate` lambda, so the whole count is a codegen'd scalar — no
    * explode, no UDF — and it satisfies the budget contract: ≥ 1 token
    * per word and exactly additive over whitespace-separated
    * concatenation (merges never span words). */
  def bpeTokenCount(merges: Seq[(String, String)])(text: Column): Column = {
    val D = "\u001F"; val DD = D + D
    def folded(w: Column): Column = {
      val seeded = concat(
        call_function("substr",
          regexp_replace(w, "(.)", DD + "$1"), lit(2)), lit(D))
      merges.foldLeft(seeded) { case (c, (a, b)) =>
        call_function("replace", c, lit(D + a + DD + b + D), lit(D + a + b + D))
      }
    }
    aggregate(graft.functions.words(lower(text)), lit(0L),
      (acc, w) => acc + size(split(trim(folded(w), D), DD)).cast("long"))
  }

  /** Tokenizer fertility per source: BPE tokens emitted per whitespace
    * word — the per-source tokenizer-cost metric a mixture designer
    * watches (fertility near 1: the merge table fits the source; well
    * above 1: the source pays a context-window tax for every document).
    * Same delimiter seed/fold as [[bpeTokens]], but the source column
    * rides along and the per-word token count is computed arithmetically
    * from the folded encoding — no per-token explode, so the pass stays
    * a narrow codegen'd map plus one keyed aggregate. */
  def bpeFertility(docs: DataFrame,
                   merges: Seq[(String, String)]): DataFrame = {
    val D = "\u001F"; val DD = D + D
    val seeded = concat(
      expr(s"substring(regexp_replace(word, '(.)', " +
        s"concat(char(31), char(31), '$$1')), 2)"),
      lit(D))
    val folded = merges.foldLeft(seeded) { case (c, (a, b)) =>
      call_function("replace", c, lit(D + a + DD + b + D), lit(D + a + b + D))
    }
    docs
      .select(col("source"),
        explode(graft.functions.words(lower(col("text")))).as("word"))
      .select(col("source"),
        size(split(trim(folded, D), DD)).cast("long").as("toks"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_words"), sum("toks").as("n_tokens"))
      .withColumn("fertility_micro",
        expr("(n_tokens * 1000000) div n_words"))
  }

  /** Corpus BPE vocabulary histogram: top-k tokens by frequency. */
  def bpeVocabHist(docs: DataFrame, merges: Seq[(String, String)],
                   k: Int): DataFrame =
    bpeTokens(docs, merges)
      .groupBy("token").agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(k)

  /** BPE merge-table LEARNING (Sennrich's algorithm): `k` rounds of
    * (adjacent-pair count over the word histogram, weighted by word
    * frequency) → (argmax pair, ties broken by count desc then pair
    * lexicographically) → (merge that pair everywhere). The reference
    * pipeline depends on a TRAINED tokenizer (HF tokenizer at
    * `retrieval/retriever.py:67-69`); this derives the merge table the
    * [[bpeTokens]] apply path consumes, from the corpus itself.
    *
    * Returns one row per learned merge: (rank, a, b, f) with `f` the
    * weighted pair count that won the round. Stops early if no adjacent
    * pair remains (every word fully merged).
    *
    * Scale shape: the ONLY corpus-size-dependent step is the first word
    * histogram (one explode + hash groupBy, map-side combined); every
    * round after that runs on the DISTINCT-WORD table — bounded by
    * vocabulary size, not corpus size — exactly how distributed BPE
    * trainers shape the problem. The per-round argmax collects ONE row
    * (the unrolled-Lloyd pattern of [[Vectors.kmeansCentroids]]); the
    * merge apply is the same codegen'd single-`replace` used by
    * [[bpeTokens]], on the D-delimited encoding whose shared boundary
    * delimiter makes leftmost non-overlapping replacement equal classic
    * simultaneous BPE merging (see BpeSpec). */
  def bpeLearnMerges(docs: DataFrame, k: Int): DataFrame = {
    val spark = docs.sparkSession
    val D = "\u001F"; val DD = D + D
    val seeded = concat(
      expr(s"substring(regexp_replace(word, '(.)', " +
        s"concat(char(31), char(31), '$$1')), 2)"),
      lit(D))
    // re-scanned every round
    var vocab = Checkpoint(docs
      .select(explode(graft.functions.words(lower(col("text")))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(seeded.as("enc"), col("freq")))
    val merges = collection.mutable.ListBuffer[(Int, String, String, Long)]()
    var exhausted = false
    for (r <- 1 to k if !exhausted) {
      val top = vocab
        .select(col("freq"), split(trim(col("enc"), D), DD).as("t"))
        .where(size(col("t")) >= 2) // sequence(0,-1) would run BACKWARD
        .select(col("freq"), explode(expr(
          "transform(sequence(0, size(t) - 2)," +
            " i -> struct(t[i] AS a, t[i + 1] AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("freq").as("f"))
        .orderBy(col("f").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, f) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r, a, b, f))
        val next = Checkpoint(vocab.select(
            call_function("replace", col("enc"),
              lit(D + a + DD + b + D), lit(D + a + b + D)).as("enc"),
            col("freq")))
        Checkpoint.release(vocab)
        vocab = next
      }
    }
    Checkpoint.release(vocab) // the merges are collected; nothing reads it
    import spark.implicits._
    merges.toSeq.toDF("rank", "a", "b", "f")
  }

  /** RAKE keyphrase extraction (Rose et al. 2010), fully relational and
    * integer-exact: candidate phrases are the maximal stopword-free runs
    * of each document (run ids from a prefix count of stopword positions —
    * one keyed window, no regex splitting), word scores are the classic
    * deg/freq ratio in micro-units (deg = Σ phrase length over every
    * phrase occurrence containing the word — within-phrase co-occurrence
    * including self), and a phrase scores the sum of its words' ratios.
    * Top-`k` by score with the phrase string as tiebreak.
    *
    * Scale: one corpus scan to tokens, one window, two hash aggregates;
    * the word-stats table is vocabulary-sized and broadcasts into the
    * distinct-phrase scoring join. */
  def rakeKeyphrases(docs: DataFrame, stopwords: Seq[String],
                     k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs
      .select(col("doc_id"),
        posexplode(graft.functions.words(lower(col("text"))))
          .as(Seq("pos", "w")))
      .withColumn("stop", col("w").isin(stopwords: _*))
    val upto = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, 0)
    val phrases = toks
      .withColumn("pid",
        sum(when(col("stop"), 1L).otherwise(0L)).over(upto))
      .where(!col("stop"))
      .groupBy("doc_id", "pid")
      .agg(array_join(transform(
          sort_array(collect_list(struct(col("pos"), col("w")))),
          e => e.getField("w")), " ").as("phrase"),
        count(lit(1)).as("len"))
    val wstats = phrases
      .select(col("len"), explode(split(col("phrase"), " ")).as("w"))
      .groupBy("w")
      .agg(count(lit(1)).as("freq"), sum("len").as("deg"))
    val occ = phrases.groupBy("phrase")
      .agg(count(lit(1)).as("n_occurrences"))
    val scores = phrases.select("phrase").distinct()
      .select(col("phrase"), explode(split(col("phrase"), " ")).as("w"))
      .join(broadcast(wstats), Seq("w"))
      .groupBy("phrase")
      .agg(sum(expr("(deg * 1000000) div freq")).as("score_micro"))
    occ.join(scores, Seq("phrase"))
      .orderBy(col("score_micro").desc, col("phrase"))
      .limit(k)
  }

  /** Zipf rank-frequency table: the top-`k` corpus terms with their rank
    * and the integer Zipf ratio f₁·10⁶ div (rank·f_rank) — exactly 10⁶
    * everywhere under a perfect Zipf law, so deviations read directly as
    * head-heaviness (>10⁶) or flatness (<10⁶). The companion diagnostic
    * to [[heapsGrowth]]: natural text sits near 10⁶, id-like or
    * boilerplate-dominated columns do not.
    *
    * Scale: one hash groupBy for term frequencies, then TakeOrdered for
    * the top page — the rank window runs on the k collected survivors,
    * never the vocabulary. Ties break by term so the table is total-order
    * deterministic. */
  def zipfTable(docs: DataFrame, k: Int): DataFrame = {
    val tf = docs
      .select(explode(graft.functions.words(lower(col("text")))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("freq"))
    val top = tf.orderBy(col("freq").desc, col("term")).limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("freq").desc, col("term"))
    top
      .withColumn("rank", row_number().over(w).cast("long"))
      .crossJoin(broadcast(top.agg(max("freq").as("f1"))))
      .select(col("rank"), col("term"), col("freq"),
        expr("(f1 * 1000000) div (rank * freq)").as("zipf_micro"))
  }

  /** Word burstiness: the variance-to-mean dispersion index of per-doc
    * occurrence counts for the top-`k` corpus terms, in integer
    * micro-units — D ≈ 10⁶ means Poisson scatter (function words), ≫ 10⁶
    * means clumpy content words that concentrate in few documents. The
    * classic Church–Gale diagnostic separating topical vocabulary from
    * glue, and the signal a stopword-list builder actually wants.
    * D = (N·Σc² − S²)·10⁶ div (S·(N−1)) with N the TOTAL doc count
    * (absent docs contribute zero counts), S = Σc — all exact Longs.
    *
    * Scale: one (doc, term) count aggregate, one per-term rollup, the
    * scalar N broadcast; top-k by total frequency via TakeOrdered. */
  def burstiness(docs: DataFrame, k: Int): DataFrame = {
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val perDoc = docs
      .select(col("doc_id"),
        explode(graft.functions.words(lower(col("text")))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
    perDoc.groupBy("term")
      .agg(count(lit(1)).as("n_present"), sum("c").as("s"),
        sum(expr("c * c")).as("ss"))
      .crossJoin(broadcast(n))
      .select(col("term"), col("n_present"), col("s").as("total"),
        expr("((n_docs * ss - s * s) * 1000000)" +
          " div (s * greatest(n_docs - 1, 1))").as("dispersion_micro"))
      .orderBy(col("total").desc, col("term"))
      .limit(k)
  }

  /** Heaps-law vocabulary-growth curve: document, token, and DISTINCT
    * vocabulary counts at corpus-prefix checkpoints (doc_id order, at
    * 1/8, 2/8, 4/8 and the full corpus). Computed WITHOUT a global sort
    * or repeated prefix scans: every term contributes only its minimal
    * doc_id (one hash groupBy over the exploded tokens — a term "enters"
    * the vocabulary exactly once), each doc/term row is then assigned the
    * FIRST checkpoint bucket containing it, and the curve is a cumulative
    * sum over the 4-row bucket table. The corpus is scanned once however
    * many checkpoints are reported; the final window runs on 4 rows.
    *
    * The growth curve is the standard corpus-scaling diagnostic (Heaps
    * 1978): sublinear vocab growth distinguishes natural text from
    * id-like/generated columns, and the checkpoints answer "how much new
    * vocabulary does the next corpus slice buy" before committing to it. */
  def heapsGrowth(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val mx = docs.agg(max(col("doc_id")).as("max_id"))
    def bucket(id: Column): Column =
      when(id <= expr("max_id div 8"), 1)
        .when(id <= expr("(2 * max_id) div 8"), 2)
        .when(id <= expr("(4 * max_id) div 8"), 4)
        .otherwise(8)
    val docAgg = docs
      .select(col("doc_id"),
        size(graft.functions.words(col("text"))).cast("long").as("nt"))
      .crossJoin(broadcast(mx))
      .groupBy(bucket(col("doc_id")).as("b"))
      .agg(count(lit(1)).as("d"), sum("nt").as("t"))
    val termAgg = docs
      .select(col("doc_id"),
        explode(graft.functions.words(col("text"))).as("term"))
      .groupBy("term").agg(min("doc_id").as("first_doc"))
      .crossJoin(broadcast(mx))
      .groupBy(bucket(col("first_doc")).as("b"))
      .agg(count(lit(1)).as("v"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("b")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    Seq(1, 2, 4, 8).toDF("b")
      .join(docAgg, Seq("b"), "left").join(termAgg, Seq("b"), "left")
      .select(col("b").cast("long").as("eighth"),
        sum(coalesce(col("d"), lit(0L))).over(w).as("n_docs"),
        sum(coalesce(col("t"), lit(0L))).over(w).as("cum_tokens"),
        sum(coalesce(col("v"), lit(0L))).over(w).as("vocab_size"))
  }

  /** Character-diversity quality signal: the Simpson index
    * `1 − Σ(cᵢ/n)²` over the document's CHARACTER histogram, in integer
    * micro-units (`diversity_micro = 10⁶ − (10⁶·Σcᵢ²) div n²`). The
    * RATIONAL form of the character-entropy filter — same
    * degenerate-text discrimination ("ababab…" scores low no matter what
    * the token stats say, constant text scores 0) but exact cross-engine:
    * no log, whose libm rounding differs between engines.
    *
    * Scale shape: one narrow position explode (O(chars), nothing
    * materializes beyond the task) → one (doc, char) groupBy with
    * map-side combine → one per-doc aggregate. Longs hold up to ~3·10⁶
    * chars/doc (10⁶·n² < 2⁶³); empty docs are filtered (no characters →
    * no row, matching the SQL GROUP BY). */
  def charDiversity(docs: DataFrame, idCol: String,
                    textCol: String): DataFrame = {
    val chars = docs
      .select(col(idCol).cast("long").as("doc_id"), col(textCol).as("__t"))
      .where(length(col("__t")) > 0)
      .select(col("doc_id"), col("__t"),
        explode(sequence(lit(1), length(col("__t")))).as("p"))
      .select(col("doc_id"), expr("substring(__t, p, 1)").as("ch"))
    chars.groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum("c").as("n_chars"),
        count(lit(1)).as("n_distinct"),
        sum(col("c") * col("c")).as("__ss"))
      .select(col("doc_id"), col("n_chars"), col("n_distinct"),
        (lit(1000000L) -
          expr("(1000000 * __ss) div (n_chars * n_chars)"))
          .as("diversity_micro"))
      .orderBy("doc_id")
  }
}
