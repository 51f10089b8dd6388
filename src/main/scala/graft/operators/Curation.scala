package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Checkpoint
import graft.functions._

/** Corpus-curation operators a large-scale training-data pipeline needs
  * beyond dedup/quality (which live in [[Dedup]]/[[TextOps]]/[[Corpus]]):
  * benchmark decontamination, deterministic train/val/test splitting,
  * per-source quota (stratified) sampling, and within-document repetition
  * scoring (the Gopher-style duplicate-n-gram filter).
  *
  * All four are one-shuffle-or-less shapes at 100 TB:
  *   - decontamination broadcasts the (benchmark-sized) eval shingle set, so
  *     the 100 TB side is a narrow scan + map-side semi-join;
  *   - hash-split is a pure narrow map (no shuffle at all before the rollup);
  *   - the stratified cap shuffles once on the strata key;
  *   - repetition scoring is an embarrassingly parallel scan.
  */
object Curation {

  /** Per-train-doc count of DISTINCT word-`n`-gram shingles that also occur
    * anywhere in `evalDocs` — the standard benchmark-decontamination signal
    * (drop or flag training docs overlapping the eval set).
    *
    * Scale shape: the eval side is a benchmark (thousands of docs), so its
    * distinct shingle-hash set is broadcast and the training corpus is
    * scanned exactly once with a map-side hash-semi-join — no shuffle of the
    * 100 TB side. Shingles are compared via the shared 60-bit md5 family
    * ([[Dedup.md5Long]]), the same collision-freedom assumption as the
    * n-gram dedup index. */
  def contaminationHits(train: DataFrame, evalDocs: DataFrame,
                        idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val evHashes = Dedup.hashedPostings(
        Dedup.shingleSets(evalDocs, idCol, textCol, n))
      .select(col("h")).distinct()
    // The train side stays NARROW until after the broadcast filter:
    // shingleSets already emits per-doc DISTINCT shingles, so its exploded
    // (doc_id, hash) stream needs no pre-join dedup (hashedPostings'
    // dropDuplicates would shuffle the full corpus). The only shuffle is
    // the groupBy over the benchmark-sized matching remainder.
    Dedup.shingleSets(train, idCol, textCol, n)
      .select(col("doc_id"), explode(col("shingles")).as("shingle"))
      .select(col("doc_id"), Dedup.md5Long(col("shingle")).as("h"))
      .join(broadcast(evHashes), Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** The filtering form of [[contaminationHits]]: the training corpus with
    * every doc sharing ≥ `minHits` distinct shingles with the eval set
    * removed (what a pipeline actually consumes; the hits form is the
    * audit report). Same broadcast shape plus one left-anti join. */
  def decontaminate(train: DataFrame, evalDocs: DataFrame,
                    idCol: String, textCol: String, n: Int = 3,
                    minHits: Long = 1L): DataFrame = {
    val bad = contaminationHits(train, evalDocs, idCol, textCol, n)
      .where(col("n_hits") >= minHits)
      .select(col("doc_id").as(idCol))
    train.join(bad, Seq(idCol), "left_anti")
  }

  /** Deterministic md5 split bucket in [0, 100): stable across runs,
    * engines, and cluster sizes — the property a train/val/test split must
    * have so re-runs and backfills land every doc in the same split.
    * (DuckDB: `('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8))::BIGINT
    * % 100`.) */
  def splitBucket(id: Column): Column =
    Dedup.md5Long(id.cast("string"), 8) % 100

  /** Split name from an already-computed [[splitBucket]] column. No ELSE
    * arm on purpose: a null bucket (null id) surfaces as a null split
    * rather than being silently folded into 'test' — the oracles mirror
    * this with an explicit `WHEN bucket >= 90` arm. A MEASURED dead end
    * documented so it isn't retried: the branch-free
    * `element_at(array(...), idx)` form mis-handles nulls — Spark 4.1
    * returns the LAST array element for a null index on a foldable array —
    * so the straightforward CaseWhen stays, and bulk callers dodge its
    * repeated-md5 cost by materializing the bucket column once first. */
  def splitFromBucket(b: Column, trainPct: Int = 80, valPct: Int = 10): Column =
    when(b < trainPct, lit("train"))
      .when(b < trainPct + valPct, lit("validation"))
      .when(b >= trainPct + valPct, lit("test"))

  /** train/validation/test assignment from [[splitBucket]]: first
    * `trainPct` buckets → train, next `valPct` → validation, rest → test.
    * A pure narrow map — at 100 TB the split materializes as a partition
    * column on write, never as a shuffle. Inline form (the CaseWhen may
    * hash up to twice per row); bulk paths project [[splitBucket]] into a
    * column once and use [[splitFromBucket]]. */
  def splitOf(id: Column, trainPct: Int = 80, valPct: Int = 10): Column =
    splitFromBucket(splitBucket(id), trainPct, valPct)

  /** Split assignment rollup: per-split doc count and char volume (the
    * sanity check run right after any split assignment). */
  def hashSplitStats(docs: DataFrame, idCol: String,
                     trainPct: Int = 80, valPct: Int = 10): DataFrame =
    // bucket materialized as a column first: md5 once per row (the bucket
    // is non-cheap, so CollapseProject keeps the projection boundary)
    docs.select(splitBucket(col(idCol)).as("bucket"), col("n_chars"))
      .select(splitFromBucket(col("bucket"), trainPct, valPct).as("split"),
        col("n_chars"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("total_chars"))

  /** Per-strata quota sampling: keep the top `quota` docs per `strataCol`
    * ordered by (`n_chars` desc, id asc — a deterministic total order), the
    * per-domain cap every web-scale corpus applies so no single source
    * dominates. One shuffle on the strata key; the quota keeps per-strata
    * state tiny regardless of corpus size. A strata hot enough to skew a
    * task is exactly the one the cap truncates hardest — rank early rows
    * via the window, and AQE's skew split covers the scan side. */
  def stratifiedCap(docs: DataFrame, strataCol: String, idCol: String,
                    quota: Int): DataFrame = {
    val w = Window.partitionBy(col(strataCol))
      .orderBy(col("n_chars").desc, col(idCol))
    docs.withColumn("rk", row_number().over(w))
      .where(col("rk") <= quota)
      .drop("rk")
  }

  /** [[stratifiedCap]] rollup: per-source kept count, kept char volume, and
    * the admission cutoff (smallest kept doc's n_chars). */
  def stratifiedCapStats(docs: DataFrame, quota: Int): DataFrame =
    stratifiedCap(docs, "source", "doc_id", quota)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("n_chars")).cast("long").as("kept_chars"),
        min(col("n_chars")).cast("long").as("cutoff_chars"))

  /** Duplicate word-`n`-gram fraction over an already-materialized words
    * array — the Gopher repetition filter (high values mean degenerate
    * boilerplate/loops). Null for docs with fewer than `n` words (no
    * n-grams to judge). Takes the words COLUMN, not raw text, for the same
    * reason [[Dedup.shingleSets]] does: HOF shingle lambdas are
    * CodegenFallback and re-evaluate an inlined tokenizer subtree per
    * reference, so callers materialize `words(text)` once per doc first. */
  def repetitionScoreOf(w: Column, n: Int): Column = {
    val sh = wordShinglesOf(w, n)
    val total = size(sh).cast("double")
    (total - size(array_distinct(sh)).cast("double")) / nullif(total, lit(0.0))
  }

  /** Convenience single-column form (tokenizes inline — fine for ad-hoc
    * use; bulk scans should materialize words once and use
    * [[repetitionScoreOf]]). */
  def repetitionScore(text: Column, n: Int): Column =
    repetitionScoreOf(words(text), n)

  /** Repetition rollup per language: mean duplicate-bigram and -trigram
    * fractions plus the count of docs above the `flagAt` bigram threshold
    * (the drop candidates). Scan-bound; the rollup is map-side combined. */
  def repetitionByLang(docs: DataFrame, flagAt: Double = 0.5): DataFrame =
    docs.select(col("lang"), words(col("text")).as("w"))
      .select(col("lang"),
        repetitionScoreOf(col("w"), 2).as("rep2"),
        repetitionScoreOf(col("w"), 3).as("rep3"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("rep2")), 6).as("avg_rep2"),
        round(avg(col("rep3")), 6).as("avg_rep3"),
        sum(when(col("rep2") > flagAt, 1L).otherwise(0L)).as("n_flagged"))

  /** Sequence packing — the concatenate-and-cut model pretraining uses:
    * within each `shardCol` shard, documents are laid end-to-end in
    * (`idCol`) order and the token stream is cut every `budget` tokens; a
    * doc's chunk is the one its FIRST token lands in (docs straddle cuts,
    * exactly as a real packer splits them).
    *
    * Scale shape: the running offset is a window partitioned by the shard
    * key — one shuffle, state bounded per shard. Packing global corpora
    * per-shard (source, file, split) rather than globally is what real
    * pipelines do anyway: a global token order would serialize the scan,
    * and cross-shard chunk boundaries have no training meaning. */
  def packChunks(docs: DataFrame, shardCol: String, idCol: String,
                 budget: Long): DataFrame = {
    val w = Window.partitionBy(col(shardCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      // null/empty text = 0 tokens: without the coalesce a null doc would
      // null its own start_off (sum skips nulls but `- tok` propagates) and
      // shift every later doc's chunk in the shard
      .withColumn("tok",
        coalesce(graft.functions.tokenCountEstimate(col("text")), lit(0L)))
      .withColumn("start_off", sum(col("tok")).over(w) - col("tok"))
      .withColumn("chunk", floor(col("start_off") / lit(budget)).cast("long"))
  }

  /** [[packChunks]] rollup: per-(shard, chunk) doc count and summed tokens
    * — the chunk manifest a downstream tokenizer job consumes. */
  def packStats(docs: DataFrame, budget: Long): DataFrame =
    packChunks(docs, "source", "doc_id", budget)
      .groupBy(col("source"), col("chunk"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tok")).cast("long").as("chunk_tokens"))

  /** The composed curation pipeline — the end-to-end path from a raw
    * corpus to training-ready shards, built from this object's stages:
    *
    *   hold out the eval set (`doc_id % evalMod == 0`) →
    *   exact dedup (keep min doc_id per content hash) →
    *   benchmark decontamination ([[contaminationHits]] ≥ 1 ⇒ drop) →
    *   deterministic split ([[splitOf]]) →
    *   sequence packing ([[packChunks]] per (split, source) shard) →
    *   per-split manifest (docs, tokens, chunks).
    *
    * Scale shape is the sum of its stages: one content-hash window (exact
    * dedup), one broadcast semi-join (decontam), a narrow map (split), one
    * shard-keyed window (pack), and the final tiny rollup. */
  def endToEndStats(docs: DataFrame, evalMod: Int, budget: Long): DataFrame = {
    val corpus = docs.where(col("doc_id") % evalMod =!= 0)
    val evalDocs = docs.where(col("doc_id") % evalMod === 0)
    val exact = corpus
      .withColumn("__keeper",
        min(col("doc_id")).over(Window.partitionBy(md5(col("text")))))
      .where(col("doc_id") === col("__keeper"))
      .drop("__keeper")
    val clean = decontaminate(exact, evalDocs, "doc_id", "text")
      .withColumn("bucket", splitBucket(col("doc_id")))
      .withColumn("split", splitFromBucket(col("bucket")))
      .drop("bucket")
      .withColumn("shard", concat_ws("/", col("split"), col("source")))
    packChunks(clean, "shard", "doc_id", budget)
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tok")).cast("long").as("total_tokens"),
        countDistinct(col("shard"), col("chunk")).as("n_chunks"))
  }

  /** Temperature-scaled source-rebalancing weights (the multilingual-
    * sampling scheme: p_src ∝ share_src^(1/T), here T=2 ⇒ sqrt — sqrt is
    * IEEE-correctly-rounded in every engine, unlike pow). Up-weights tail
    * sources, down-weights dominant ones; `weight` is the normalized
    * sampling probability, `boost` the ratio to the natural share. Two
    * tiny aggregates + a broadcast of the totals row — no large shuffle. */
  /** Deterministic weighted corpus sampling: each source's acceptance
    * rate is its temperature boost × a base rate (capped at 1), and a doc
    * is kept iff its salted hash falls under the rate — so the "sample"
    * is a pure per-row predicate: reproducible, restartable, and
    * shuffle-free on the doc side (rates broadcast). floor() before the
    * long cast on BOTH engines — Spark's double→long cast truncates while
    * DuckDB's rounds, so the cast must never see a fraction. */
  def weightedSampleStats(docs: DataFrame,
                          baseRateMicro: Long = 300000L): DataFrame = {
    val rates = rebalanceWeights(docs).select(col("source"),
      least(lit(1000000L),
        floor(col("boost") * baseRateMicro).cast("long")).as("r_micro"))
    docs.join(broadcast(rates), Seq("source"))
      .withColumn("accept",
        Dedup.md5Long(concat(lit("sample|"), col("doc_id").cast("string")), 8)
          % 1000000 < col("r_micro"))
      .groupBy("source", "r_micro")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("accept"), 1L).otherwise(0L)).as("n_sampled"))
  }

  /** Split-leakage QA: near-duplicate groups that SPAN train/val/test
    * boundaries are evaluation contamination (exact-dup leaks are the
    * degenerate case — this keys on the bag-of-words fingerprint, the
    * catalog's cheapest near-dup identity, so reworded boilerplate leaks
    * too). Reports duplicate groups (n_docs > 1) bucketed by how many
    * distinct splits they touch — n_splits > 1 rows are the leaks. */
  def splitLeakage(docs: DataFrame): DataFrame =
    docs.select(graft.operators.TextOps.fingerprint(col("text")).as("content_hash"),
        splitOf(col("doc_id")).as("split"))
      .groupBy("content_hash")
      .agg(count_distinct(col("split")).as("n_splits"),
        count(lit(1)).as("n_docs"))
      .where(col("n_docs") > 1)
      .groupBy("n_splits").agg(count(lit(1)).as("n_groups"))

  // ---- PII detection / redaction ----

  /** Public PII patterns for the C4/Dolma-style regex redaction pass:
    * emails, dotted-quad IPv4s, and NNN-NNN-NNNN phone numbers. Kept to the
    * RE2 ∩ java.util.regex common subset (no lookaround, no backrefs) so
    * the Spark scan and a DuckDB/RE2 oracle match the same spans. Order
    * matters for redaction (emails first — their domains contain dots that
    * the IP pattern must never see as already-rewritten text). */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}""", "<EMAIL>"),
    ("ipv4", """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b""", "<IP>"),
    ("phone", """\b\d{3}-\d{3}-\d{4}\b""", "<PHONE>"))

  /** Text with every [[piiPatterns]] span replaced by its placeholder
    * token. A pure narrow codegen'd map — scan-bound at 100 TB. */
  def redactPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (t, (_, re, tok)) =>
      regexp_replace(t, re, tok) }

  /** Per-source PII audit: match counts per pattern plus how many docs the
    * redaction pass actually rewrote and the total redacted length (the
    * cheap invariants a pipeline asserts before/after scrubbing). One
    * embarrassingly parallel scan + a |sources|-row rollup. */
  def piiStats(docs: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val countCols = piiPatterns.map { case (name, re, _) =>
      sum(regexp_count(t, lit(re)).cast("long")).as(s"n_$name") }
    val agg0 = count(lit(1)).as("n_docs")
    docs.groupBy(col("source"))
      .agg(agg0, countCols ++ Seq(
        sum(when(redactPii(t) =!= t, 1L).otherwise(0L)).as("n_docs_redacted"),
        sum(length(redactPii(t)).cast("long")).as("redacted_len")): _*)
  }

  /** The driver's synthetic corpus carries no PII, so the oracle-checked
    * form injects deterministic emails/IPs/phones derived from `doc_id`
    * (the oracle re-derives the same strings from the table alone), then
    * runs the real [[piiStats]] audit over the augmented text. */
  def piiInjectedStats(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    def s(c: Column) = c.cast("string")
    def m(c: Column, k: Int) = pmod(c, lit(k.toLong))
    val email = concat(lit(" mail u"), s(id), lit("@ex"), s(m(id, 7)),
      lit(".org"))
    val ip = concat(lit(" host 10."), s(m(id, 256)), lit("."),
      s(m(id * 7, 256)), lit("."), s(m(id, 100)))
    val phone = concat(lit(" call "), s(m(id, 900) + 100), lit("-"),
      s(m(id * 3, 900) + 100), lit("-"), s(m(id, 9000) + 1000))
    val augmented = concat(col("text"),
      when(m(id, 3) === 0, email).otherwise(lit("")),
      when(m(id, 4) === 0, ip).otherwise(lit("")),
      when(m(id, 5) === 0, phone).otherwise(lit("")))
    piiStats(docs.withColumn("pii_text", augmented), "pii_text")
  }

  // ---- URL / domain extraction ----

  /** URL extraction + domain rollup (the link-density / domain-blocklist
    * input every web-corpus pipeline computes): URLs match the positive
    * character-class regex `https?://[A-Za-z0-9._/?=-]+` (RE2 ∩
    * java.util.regex — a negated `[^\s]` class would disagree between
    * engines on exotic whitespace), the domain is capture group 1 of
    * `https?://([A-Za-z0-9.-]+)`, and the per-source rollup reports URL
    * count, https share, distinct domains, and summed URL length. One
    * explode + one keyed aggregate — scan-bound at 100 TB. */
  def urlStats(docs: DataFrame, textCol: String): DataFrame = {
    val urlRe = "https?://[A-Za-z0-9._/?=-]+"
    docs
      .select(col("source"),
        explode(expr(s"regexp_extract_all($textCol, '$urlRe', 0)"))
          .as("url"))
      .withColumn("domain",
        regexp_extract(col("url"), "https?://([A-Za-z0-9.-]+)", 1))
      .groupBy("source")
      .agg(count(lit(1)).as("n_urls"),
        sum(when(col("url").startsWith("https://"), 1L).otherwise(0L))
          .as("n_https"),
        count_distinct(col("domain")).as("n_domains"),
        sum(length(col("url")).cast("long")).as("sum_url_len"))
  }

  /** The driver corpus carries no URLs, so the oracle-checked form
    * appends deterministic doc_id-derived links (domains and paths the
    * oracle re-derives from the table alone), then audits the real
    * extraction pass — the [[htmlInjectedStats]] convention. */
  def urlInjectedStats(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    def s(c: Column) = c.cast("string")
    def m(c: Column, k: Int) = pmod(c, lit(k.toLong))
    val aug = concat(col("text"),
      when(m(id, 3) === 0,
        concat(lit(" see https://ex"), s(m(id, 7)), lit(".org/p/"),
          s(m(id, 100)))).otherwise(lit("")),
      when(m(id, 4) === 0,
        concat(lit(" ref http://w"), s(m(id, 5)), lit(".ex"), s(m(id, 7)),
          lit(".net/q?id="), s(id))).otherwise(lit("")))
    urlStats(docs.withColumn("url_text", aug), "url_text")
  }

  /** URL canonicalization — the FIRST dedup pass of every web-scale
    * pipeline (CommonCrawl processing dedups by canonical URL before any
    * content hash is computed): lowercase the scheme+host (paths stay
    * case-sensitive per RFC 3986), strip the `#fragment`, strip one
    * trailing slash. Reports, per canonical domain, how many raw link
    * forms collapse — pure narrow scan + one keyed rollup; the regex
    * steps sit in the documented RE2 ∩ Java portable subset.
    *
    * The driver corpus carries no URLs, so the oracle-checked form
    * injects doc_id-derived links in three raw variants per canonical
    * URL (uppercase host / fragment-suffixed / trailing-slash — the
    * [[urlInjectedStats]] convention) and audits the real
    * canonicalization pass. */
  def urlCanonicalStats(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    def s(c: Column) = c.cast("string")
    val grp = expr("doc_id div 3")
    val dm = s(pmod(grp, lit(7L)))
    val pp = s(pmod(grp, lit(40L)))
    val variant = pmod(id, lit(3L))
    val base = concat(lit("https://"),
      when(variant === 0, concat(lit("EX"), dm))
        .otherwise(concat(lit("ex"), dm)),
      lit(".org/p/"), pp)
    val url = when(variant === 1, concat(base, lit("#f"), s(id)))
      .when(variant === 2, concat(base, lit("/")))
      .otherwise(base)
    val urlRe = "https?://[A-Za-z0-9._/?=#-]+"
    docs
      .withColumn("aug", concat(col("text"), lit(" "), url))
      .select(explode(expr(s"regexp_extract_all(aug, '$urlRe', 0)")).as("url"))
      .withColumn("nofrag", regexp_replace(col("url"), "#.*$", ""))
      .withColumn("canon", concat(
        lower(regexp_extract(col("nofrag"), "^(https?://[A-Za-z0-9.-]+)", 1)),
        regexp_extract(col("nofrag"), "^https?://[A-Za-z0-9.-]+(.*)$", 1)))
      .withColumn("canon", regexp_replace(col("canon"), "/$", ""))
      .withColumn("domain",
        regexp_extract(col("canon"), "https?://([a-z0-9.-]+)", 1))
      .groupBy("domain")
      .agg(count(lit(1)).as("n_urls"),
        count_distinct(col("url")).as("n_raw"),
        count_distinct(col("canon")).as("n_canonical"))
      .withColumn("n_collapsed", col("n_raw") - col("n_canonical"))
  }

  // ---- HTML boilerplate stripping ----

  /** Markup removal + entity decode (the trafilatura/jusText first pass a
    * web corpus needs before any text gate): tags collapse to one space
    * via `<[^>]+>` (RE2 ∩ java.util.regex subset), then the five core
    * entities decode by LITERAL replace with `&amp;` strictly LAST — the
    * classic double-decode bug (`&amp;lt;` must yield `&lt;`, not `<`) is
    * an ordering property, mirrored in the oracle. Pure codegen'd narrow
    * map — scan-bound at 100 TB. */
  def htmlStripOf(text: Column): Column = {
    val noTags = regexp_replace(text, "<[^>]+>", " ")
    Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'",
      "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, r)) => replace(c, lit(e), lit(r)) }
  }

  /** The driver corpus carries no markup, so the oracle-checked form
    * wraps each text in deterministic doc_id-derived HTML (tags +
    * entities the oracle re-derives from the table alone), then audits
    * the real strip pass: tags seen, entities seen, stripped length. */
  def htmlInjectedStats(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    def s(c: Column) = c.cast("string")
    def m(c: Column, k: Int) = pmod(c, lit(k.toLong))
    val aug = concat(
      lit("<div class=\"c"), s(m(id, 5)), lit("\"><p>"), col("text"),
      lit("</p>"),
      when(m(id, 2) === 0, lit(" &amp;lt; x &lt;b&gt;")).otherwise(lit("")),
      when(m(id, 3) === 0, lit(" &quot;q&quot; &#39;a&#39;")).otherwise(lit("")),
      lit("</div>"))
    docs.withColumn("aug", aug)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(regexp_count(col("aug"), lit("<[^>]+>")).cast("long"))
          .as("n_tags"),
        sum(regexp_count(col("aug"), lit("&(amp|lt|gt|quot|#39);"))
          .cast("long")).as("n_entities"),
        sum(length(htmlStripOf(col("aug"))).cast("long")).as("stripped_len"))
  }

  // ---- encoding repair (ftfy-style mojibake fix) ----

  /** Conservative mojibake repair (the ftfy core case: UTF-8 bytes once
    * misread as Latin-1, e.g. `cafÃ©` for `café`): reinterpret the
    * string's Latin-1 bytes as UTF-8 and adopt the result ONLY when
    * (a) every char is in the Latin-1 range — a wider char proves the text
    * was never a Latin-1 misread; (b) the reinterpretation is valid UTF-8
    * — `is_valid_utf8` over the LENIENT binary→string cast (Spark 4's
    * `decode()` throws on malformed bytes, the cast does not validate);
    * and (c) it strictly shortens the string (real mojibake always
    * collapses ≥2 chars into 1). Legitimate Latin-1-range text like
    * `naïve` fails (b) and passes through untouched. Pure codegen'd
    * built-ins — a narrow scan at 100 TB. */
  def fixEncodingOf(t: Column): Column = {
    val re = encode(t, "ISO-8859-1").cast("string")
    when(!t.rlike("[^\\x00-\\xFF]") &&
         call_function("is_valid_utf8", re) &&
         length(re) < length(t), re)
      .otherwise(t)
  }

  /** Per-source encoding-health audit: suspect docs (carrying the `Ã`
    * marker the double-encoding always produces), docs the conservative
    * repair actually rewrote, and total chars reclaimed. */
  def encodingFixStats(docs: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val fixed = fixEncodingOf(t)
    docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(instr(t, "Ã") > 0, 1L).otherwise(0L)).as("n_suspect"),
        sum(when(fixed =!= t, 1L).otherwise(0L)).as("n_repaired"),
        sum((length(t) - length(fixed)).cast("long")).as("chars_saved"))
  }

  /** Oracle-checked form: deterministic mojibake (`doc_id % 3 = 0`) and
    * legitimate Latin-1-range text (`doc_id % 5 = 0`) are appended from
    * doc_id alone; the REAL repair runs, and the oracle derives the
    * expected outcome analytically — repaired iff mojibake present AND no
    * legit non-ASCII (whose bytes make the whole-string reinterpretation
    * invalid UTF-8, the conservative bail-out). */
  def encodingFixInjectedStats(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    val aug = concat(col("text"),
      when(pmod(id, lit(3L)) === 0, lit(" menu: caf\u00c3\u00a9 d\u00c3\u00a9j\u00c3\u00a0 vu"))
        .otherwise(lit("")),
      when(pmod(id, lit(5L)) === 0, lit(" na\u00efve fa\u00e7ade"))
        .otherwise(lit("")))
    encodingFixStats(docs.withColumn("enc_text", aug), "enc_text")
  }

  // ---- DSIR-style importance weighting ----

  /** DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every raw
    * (non-target) document by how target-like its hashed-token
    * distribution is. Tokens from both corpora fold into `dim` hashed
    * buckets (the same portable digit-only-MD5 bucket hash as
    * [[TextOps.hashingTf]]/[[Sketch]], so the oracle rebuilds the counts
    * exactly); a raw doc's score is the sum over its tokens of the
    * bucket's add-one-smoothed target/raw count ratio in integer
    * micro-units, `ratio_micro(b) = ((tgt_b+1) * 1e6) div (raw_b+1)` —
    * the log-free member of the importance family (like the lift
    * collocations: log reorders nothing positive, and integer arithmetic
    * keeps scores engine-portable). A doc is "selected" when its mean
    * per-token ratio is ≥ 1 (more target-like than raw-like).
    *
    * Scale shape: one scan counts both corpora into `dim` rows (map-side
    * combine; `dim` bounded, so the table broadcasts back), one scan
    * scores, and the rollup groups by source. The 100 TB side shuffles
    * only for the per-doc aggregate — no vocabulary pass, no all-pairs
    * anything.
    *
    * Operating range: `(tgt_b+1) * 1e6` is exact below 9.2e12 tokens per
    * bucket — far past any realistic per-bucket mass at dim ≥ 64 on a
    * 1e13-token corpus; past that, widen to decimal(38,0) here AND in the
    * oracle together. */
  def importanceWeightStats(docs: DataFrame, targetSource: String,
                            dim: Int): DataFrame = {
    def bucket(c: Column): Column =
      substring(concat(translate(md5(c), "abcdef", ""), lit("000000")),
        1, 6).cast("long") % dim
    val toks = docs
      .select(col("doc_id"), col("source"),
        explode(graft.functions.words(col("text"))).as("tok"))
      .withColumn("slot", bucket(col("tok")))
    val isTgt = col("source") === targetSource
    val ratio = toks.groupBy("slot")
      .agg(sum(when(isTgt, 1L).otherwise(0L)).as("tc"),
        sum(when(isTgt, 0L).otherwise(1L)).as("rc"))
      .select(col("slot"), expr("((tc + 1) * 1000000) div (rc + 1)").as("rm"))
    toks.where(!isTgt)
      .join(broadcast(ratio), Seq("slot"))
      .groupBy(col("doc_id"))
      .agg(first(col("source")).as("source"),
        count(lit(1)).as("n_toks"), sum(col("rm")).as("score"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("score") >= col("n_toks") * 1000000L, 1L).otherwise(0L))
          .as("n_selected"),
        sum(col("score")).as("sum_score_micro"))
  }

  /** First-occurrence novelty: the fraction of a document's distinct
    * n-grams whose earliest owner (minimum doc_id across the corpus) is
    * this document — the attribution signal curation uses to rank how
    * derivative a document is of what came before it (ids double as
    * arrival order). Returns the `k` LEAST novel documents, i.e. the ones
    * most worth dropping, ordered (novelty, doc_id) for determinism.
    *
    * Scale shape: explode distinct shingles once, groupBy the 60-bit
    * shingle hash for the min-owner (map-side combinable), join back and
    * re-aggregate per document — three keyed shuffles, no pairwise
    * comparison anywhere; the hot-shingle problem of the pair-based dedup
    * paths does not arise because a shingle contributes one min, not a
    * posting list. */
  def ngramNoveltyBottomK(docs: DataFrame, idCol: String, textCol: String,
                          n: Int, k: Int): DataFrame = {
    val sh = Dedup.shingleSets(docs, idCol, textCol, n)
      .select(col("doc_id"), explode(col("shingles")).as("s"))
      .select(col("doc_id"), Dedup.md5Long(col("s")).as("h"))
    val firstOwner = sh.groupBy("h").agg(min(col("doc_id")).as("first_doc"))
    sh.join(firstOwner, Seq("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_shingles"), 6)
          .as("novelty"))
      .orderBy(col("novelty"), col("doc_id"))
      .limit(k)
  }

  /** Per-source length-outlier trim audit: documents outside the
    * [lo, hi] percent_rank band of character length are trimmed (the
    * p05/p95 outlier cut curation applies before training — truncated or
    * boilerplate-short docs below, concatenation accidents above).
    * percent_rank = (rank-1)/(n-1) is an exact small-integer rational, so
    * the band edges are engine-portable; ties share a rank and land on
    * the same side of the cut in any engine. One keyed shuffle: the
    * window partitions by source, and the per-source aggregate reuses
    * that partitioning. */
  def lengthOutlierStats(docs: DataFrame, textCol: String,
                         lo: Double, hi: Double): DataFrame = {
    val pr = percent_rank().over(
      Window.partitionBy(col("source")).orderBy(col("len")))
    val kept = (col("pr") >= lo) && (col("pr") <= hi)
    docs.select(col("source"), length(col(textCol)).cast("long").as("len"))
      .withColumn("pr", pr)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(kept, 1L).otherwise(0L)).as("n_kept"),
        min(when(kept, col("len"))).as("min_kept_len"),
        max(when(kept, col("len"))).as("max_kept_len"),
        sum(when(kept, col("len"))).as("kept_chars"))
  }

  /** Largest-remainder apportionment of an EXACT token budget across
    * sources under temperature-0.5 sampling mass (r_s = ⌊√tokens_s⌋ —
    * [[rebalanceWeights]]' float shares made integer-exact): base quota
    * `(B·r_s) div R`, then the leftover `B − Σ base` goes one token to
    * each of the largest remainders (`(B·r_s) mod R` desc, source asc).
    * Σ quota = B exactly — the property float shares cannot give.
    *
    * Scale shape: one token-counting scan, then all arithmetic on
    * |sources| rows (broadcast scalars, one tiny window). Long-exact
    * while B·r_s < 9.2e18 — a 1e13-token budget with √-mass up to ~1e5. */
  def mixtureQuota(docs: DataFrame, textCol: String,
                   budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bySrc = docs.groupBy(col("source"))
      .agg(sum(coalesce(graft.functions.tokenCountEstimate(col(textCol)),
        lit(0L))).as("tokens"))
      .select(col("source"), col("tokens"),
        floor(sqrt(col("tokens").cast("double"))).cast("long").as("r"))
    val base = bySrc
      .crossJoin(broadcast(bySrc.agg(sum("r").as("rsum"))))
      .select(col("source"), col("tokens"),
        expr(s"(${budget}L * r) div rsum").as("base_quota"),
        expr(s"(${budget}L * r) % rsum").as("rem"))
    base
      .crossJoin(broadcast(base.agg(sum("base_quota").as("qsum"))))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rem").desc, col("source"))))
      .select(col("source"), col("tokens"),
        (col("base_quota") +
          when(col("rk") <= lit(budget) - col("qsum"), 1L).otherwise(0L))
          .as("quota"))
  }

  def rebalanceWeights(docs: DataFrame): DataFrame = {
    val bySrc = docs.groupBy(col("source"))
      .agg(count(lit(1)).cast("double").as("n_docs"))
    val tot = bySrc.agg(sum(col("n_docs")).as("total"),
      sum(sqrt(col("n_docs"))).as("sqrt_mass"))
    bySrc.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs").cast("long").as("n_docs"),
        round(col("n_docs") / col("total"), 6).as("share"),
        round(sqrt(col("n_docs")) / col("sqrt_mass"), 6).as("weight"),
        round(sqrt(col("n_docs")) / col("sqrt_mass") /
          (col("n_docs") / col("total")), 6).as("boost"))
  }

  /** Deterministic global shuffle into training shards — the step between
    * curation and the trainer: examples must reach the optimizer in an
    * order decorrelated from their storage order (a corpus sorted by crawl
    * date or source trains measurably worse), and the order must be
    * REPRODUCIBLE so a resumed/re-run job sees the identical stream.
    *
    * shard = md5(id || ":shard") mod `nShards`; within-shard order = that
    * same hash (ties → id). A seeded hash of the id IS a deterministic
    * permutation — no global sort is needed, which is the 100 TB point:
    * one shuffle keyed on the shard id, each shard sorts independently
    * (Spark's per-partition sort, never a total order across the corpus),
    * and the trainer streams shards in any order. Emits per-shard stats
    * with an order-sensitive checksum (sum of rank·id) so the oracle pins
    * the EXACT within-shard sequence, not just membership. */
  def shardShuffleStats(docs: DataFrame, idCol: String,
                        nShards: Int): DataFrame = {
    val withShard = docs
      .select(col(idCol).as("id"))
      .withColumn("h",
        Dedup.md5Long(concat(col("id").cast("string"), lit(":shard"))))
      .withColumn("shard", (col("h") % nShards).cast("int"))
    val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("id"))
    withShard
      .withColumn("rk", row_number().over(w).cast("long"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("id")).cast("long").as("sum_ids"),
        sum(col("rk") * col("id")).cast("long").as("order_check"))
  }

  /** Linear quality-classifier apply — the fastText-shaped scoring pass
    * every production corpus filter runs (a trained classifier gates
    * "educational value", toxicity, etc.). Features are hashed unigram
    * counts ([[TextOps.hashingTf]]'s portable digit-only-MD5 buckets, no
    * vocabulary pass); the weight vector is tiny and broadcast-shaped (here
    * derived deterministically from the slot id via the same MD5 family, a
    * stand-in for trained weights that keeps the oracle exact). The logit
    * stays in integer micro-units — classification (logit > 0) and ranking
    * are engine-portable; the sigmoid is monotone so thresholding the logit
    * IS thresholding the probability.
    *
    * Scale shape: a narrow one-pass scan (per-token weight lookup folded
    * into the projection, map-side combine into the per-source rollup) —
    * no shuffle before the final |sources|-row aggregate. */
  /** Per-document logit as a pure column expression (the streaming-liftable
    * half of [[classifierScoreStats]] — stateless, so it runs unchanged in
    * a Structured Streaming ingest scrub/score stage). */
  def classifierLogitOf(text: Column, dim: Int = 16): Column = {
    val wts: IndexedSeq[Long] = (0 until dim).map { s =>
      val digits = java.security.MessageDigest.getInstance("MD5")
        .digest(s"w:$s".getBytes("UTF-8")).map("%02x".format(_)).mkString
        .replaceAll("[a-f]", "") + "000000"
      digits.substring(0, 6).toLong % 2001 - 1000
    }
    def bucket(c: Column): Column =
      substring(concat(translate(md5(c), "abcdef", ""), lit("000000")),
        1, 6).cast("long") % dim
    val wArr = array(wts.map(lit(_)): _*)
    aggregate(
      transform(words(text), t => element_at(wArr, (bucket(t) + 1).cast("int"))),
      lit(0L), (acc, x) => acc + x)
  }

  def classifierScoreStats(docs: DataFrame, dim: Int = 16): DataFrame =
    docs
      .withColumn("logit", classifierLogitOf(col("text"), dim))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("logit") > 0, 1L).otherwise(0L)).cast("long").as("n_pos"),
        sum(col("logit")).cast("long").as("sum_logit"))

  /** TRAIN a linear doc-quality classifier from the corpus itself —
    * the learn-family member for model-based curation, next to BPE merge
    * learning, Lloyd k-means, and power iteration: `iters` unrolled
    * BATCH-perceptron rounds over hashed unigram counts plus a bias
    * feature (slot `dim`). Per round: one broadcast join for margins
    * m_d = Σ cnt·w, one aggregate for the gradient Σ y·cnt over the
    * mistake set (y·m ≤ 0), and a (dim+1)-row weight update — every step
    * a sum of integer products, so the whole training run is
    * order-independent and exact in both engines (the reason for batch
    * perceptron over SGD, whose row order Spark cannot pin, and over
    * logistic loss, whose exp() drifts across engines).
    *
    * Labels are derived deterministically from a length gate
    * (`wordcount ≥ lenThreshold` → +1 else −1) — the bootstrap pattern
    * real pipelines use: a cheap heuristic labels a seed set, the trained
    * model generalizes the signal to the open-vocabulary feature space.
    *
    * Scale shape: the corpus appears as the (doc, slot, cnt) hashed
    * feature stream (no vocabulary pass — the HashingTF property); the
    * weight vector is dim+1 rows, always broadcast; each round is one
    * keyed margin aggregate + one mistake semi-join + one slot aggregate.
    * Output: final weights per slot plus the end-of-training mistake
    * count. */
  def classifierTrainStats(docs: DataFrame, dim: Int = 16, iters: Int = 3,
                           lenThreshold: Int = 56): DataFrame = {
    def bucket(c: Column): Column =
      substring(concat(translate(md5(c), "abcdef", ""), lit("000000")),
        1, 6).cast("long") % dim
    val base = docs.select(col("doc_id"), words(col("text")).as("ws"))
    val yv = base.select(col("doc_id"),
      when(size(col("ws")) >= lenThreshold, 1L).otherwise(-1L).as("y"))
    val tok = base.select(col("doc_id"), explode(col("ws")).as("t"))
      .select(col("doc_id"), bucket(col("t")).as("slot"))
      .groupBy("doc_id", "slot").agg(count(lit(1)).as("cnt"))
    val feats = Checkpoint(tok
      .unionByName(yv.select(col("doc_id"), lit(dim.toLong).as("slot"),
        lit(1L).as("cnt")))
      .join(yv, "doc_id"))
    def margins(wdf: DataFrame): DataFrame =
      feats.join(broadcast(wdf), "slot")
        .groupBy("doc_id", "y").agg(sum(expr("cnt * w")).as("m"))
    var wdf = docs.sparkSession.range(dim + 1)
      .select(col("id").as("slot"), lit(0L).as("w"))
    for (_ <- 1 to iters) {
      val mist = margins(wdf).where(expr("y * m <= 0")).select("doc_id")
      val grad = feats.join(mist, "doc_id")
        .groupBy("slot").agg(sum(expr("y * cnt")).as("g"))
      val next = Checkpoint(wdf.join(grad, Seq("slot"), "left")
        .select(col("slot"), (col("w") + coalesce(col("g"), lit(0L))).as("w")))
      Checkpoint.release(wdf)
      wdf = next
    }
    val fm = margins(wdf)
      .agg(sum(when(expr("y * m <= 0"), 1L).otherwise(0L)).as("n_mistakes"))
    wdf.crossJoin(broadcast(fm))
      .select(col("slot"), col("w"), col("n_mistakes"))
      .orderBy("slot")
  }
}
