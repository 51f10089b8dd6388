package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * n-gram Jaccard, SimHash. Designed so the *same* computation is exactly
  * expressible in ANSI SQL (DuckDB oracle): all hashing derives from
  * lowercase-hex `md5`, which both engines produce identically, instead of
  * engine-specific integer hash functions.
  *
  * Scale notes: exact dedup is one hash-groupBy (map-side combine → tiny
  * shuffle). MinHash hashes each shingle ONCE (md5 → 60-bit long) and
  * derives the k hash family members by xor with per-seed constants — k×
  * cheaper than k independent string hashes, and the signature shuffle
  * carries longs, not hex strings. LSH buckets on (band, signature), so
  * candidate generation is O(collisions), not O(n²); hot buckets are
  * dropped via `maxBucket` (the posting-list pair form concentrates a
  * bucket in one task, so the cap replaces the old self-join's AQE skew
  * splitting). The verify step (exact Jaccard) runs only on candidate
  * pairs.
  * Word arrays are materialized as a column BEFORE any per-shingle lambda
  * so the tokenizer runs once per document, not once per shingle element.
  *
  * ==Breaking default change (round 11)==
  * Every `maxBucket` / `maxPostings` valve now DEFAULTS to 1024 (it was
  * `Int.MaxValue`, i.e. unbounded). This is a RECALL change, not just a
  * perf valve: buckets with more than 1024 occupants silently contribute
  * no candidate pairs beyond the cap. Callers that depended on unbounded
  * candidate generation must pass `maxBucket = Int.MaxValue` explicitly
  * — and should not: an unbounded hot bucket is quadratic and is exactly
  * the 100 TB failure mode the valve exists for (a >1024-occupant bucket
  * is a degenerate key — near-empty documents, silence, flat frames —
  * whose pairs are near-worthless for dedup). See CHANGELOG.md.
  */
object Dedup {

  /** Exact dedup by content hash: per duplicate-group keeper (min doc id)
    * and group size. `SELECT min(id), count(*) GROUP BY md5(text)`. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_docs"))

  /** Exact dedup with SOURCE-PRIORITY keeper selection: within each
    * duplicate group keep the copy from the most-trusted source
    * (best-first `priority` list; unlisted sources rank last; doc_id
    * breaks ties) — the "prefer curated over crawled" rule of corpus
    * assembly. One hash shuffle + one keyed window. */
  def priorityKeepers(docs: DataFrame, idCol: String, textCol: String,
                      sourceCol: String, priority: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val prio = priority.zipWithIndex.foldLeft(lit(priority.size)) {
      case (acc, (s, i)) => when(col(sourceCol) === s, lit(i)).otherwise(acc)
    }
    val w = Window.partitionBy("content_hash")
      .orderBy(col("prio"), col("keeper_id"))
    docs
      .select(md5(col(textCol)).as("content_hash"),
        col(idCol).as("keeper_id"), col(sourceCol).as("keeper_source"),
        prio.as("prio"))
      .withColumn("n_docs", count(lit(1)).over(
        Window.partitionBy("content_hash")))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select("content_hash", "keeper_id", "keeper_source", "n_docs")
  }

  /** STREAMING exact dedup: emit only the FIRST document seen per content
    * hash — the incremental form of [[exactGroups]] for a continuously
    * ingested corpus. `dropDuplicatesWithinWatermark` is the load-bearing
    * choice: plain `dropDuplicates("content_hash")` would NEVER evict state
    * (Spark only cleans dedup state when the event-time column is among the
    * keys) and would drop late NEW documents as late input; the
    * within-watermark form keeps per-key state only for the watermark
    * horizon — a duplicate arriving more than `watermark` after its
    * original may be re-emitted, the standard bounded-state/recall trade;
    * widen the watermark to tighten recall. */
  def streamingExactDedup(docs: DataFrame, idCol: String, textCol: String,
                          tsCol: String, watermark: String): DataFrame =
    docs
      .withColumn("content_hash", md5(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("content_hash")
      .select(col(idCol), col("content_hash"), col(tsCol))

  /** STREAMING near-duplicate detection — the incremental form of
    * [[minhashLsh]]: per-document MinHash signatures are computed as a
    * NARROW expression (array_min over the shingle array per seed — no
    * aggregation, so it runs inside a micro-batch with no extra shuffle),
    * banded into LSH bucket keys, and candidate pairs surface from
    * `flatMapGroupsWithState` keyed by (band, bucket): state holds the
    * signatures previously seen in the bucket, each arrival emits pairs
    * whose signature agreement >= `minAgree` fraction. Deduped across
    * bands by the downstream consumer if needed (a pair colliding in two
    * bands emits twice, same as the batch candidate stage before its
    * distinct).
    *
    * State is BOUNDED two ways (the batch path's `maxBucket` valve has a
    * streaming twin here — an unbounded stream must not grow state
    * forever):
    *  - TTL: an entry expires once its event time falls `stateTtl` behind
    *    the watermark — pruned on the bucket's next arrival, and the whole
    *    bucket is dropped via `EventTimeTimeout` when idle past the
    *    horizon. Like [[streamingExactDedup]]'s watermark trade, a
    *    near-dup arriving after its original expired is NOT paired; widen
    *    `stateTtl` to tighten recall.
    *  - `maxBucket` occupancy cap: a bucket at capacity stops ADMITTING
    *    new signatures (skipped arrivals emit no pairs and are not
    *    stored). The batch path drops an over-full bucket wholesale; an
    *    append stream cannot retract already-emitted pairs, so the
    *    streaming form freezes the bucket instead — same skew bound
    *    (≤ maxBucket² /2 pairs per bucket), different edge semantics.
    */
  def streamingNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                            tsCol: String, watermark: String,
                            n: Int = 3, numHashes: Int = 8, numBands: Int = 4,
                            minAgree: Double = 0.5, maxBucket: Int = 1024,
                            stateTtl: java.time.Duration =
                              java.time.Duration.ofHours(1)): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = docs.sparkSession
    import spark.implicits._
    require(numHashes % numBands == 0)
    val rows = numHashes / numBands
    val ttlMs = stateTtl.toMillis
    val shingles = graft.functions.wordShingles(col(textCol), n)
    val sig = array((0 until numHashes).map(seed =>
      array_min(transform(col("__sh"), s => graft.functions.seededMd5(seed, s)))): _*)
    val banded = docs
      .withWatermark(tsCol, watermark)
      .withColumn("__sh", shingles)
      .where(size(col("__sh")) > 0)
      .withColumn("sig", sig)
      .select(col(idCol).cast("long").as("id"), col("sig"),
        explode(array((0 until numBands).map(b =>
          concat(lit(s"$b|"), md5(concat_ws("|",
            slice(col("sig"), b * rows + 1, rows))))): _*)).as("bucket"),
        // the watermarked event-time column must reach the stateful
        // operator AS IS (projecting it through unix_millis strips the
        // watermark tag and EventTimeTimeout fails analysis)
        col(tsCol).as("ts"))
      .as[(Long, Seq[String], String, java.sql.Timestamp)]
    banded.groupByKey(_._3)
      .flatMapGroupsWithState[List[(Long, Seq[String], Long)], (Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_, batch: Iterator[(Long, Seq[String], String, java.sql.Timestamp)],
         state: GroupState[List[(Long, Seq[String], Long)]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val wm = state.getCurrentWatermarkMs()
            // prune expired entries BEFORE pairing: a timed-out bucket that
            // receives data in the same trigger never fires hasTimedOut, so
            // the data path must enforce the TTL too
            var seen = state.getOption.getOrElse(Nil)
              .filter { case (_, _, ts) => ts + ttlMs >= wm }
            val out = collection.mutable.ListBuffer[(Long, Long, Double)]()
            batch.toSeq.sortBy(_._1).foreach { case (id, s, _, tsRaw) =>
              val ts = tsRaw.getTime
              if (!seen.exists(_._1 == id) && seen.size < maxBucket) {
                seen.foreach { case (oid, os, _) =>
                  val agree = s.zip(os).count { case (a, b) => a == b }.toDouble / s.length
                  if (agree >= minAgree)
                    out += ((math.min(id, oid), math.max(id, oid), agree))
                }
                seen = (id, s, ts) :: seen
              }
            }
            if (seen.isEmpty) state.remove() else state.update(seen)
            // sliding horizon: bucket dies ttl after its newest RETAINED
            // entry — computed over `seen`, not the batch, because a
            // trigger that delivers only LATE (older) events would
            // otherwise pull the horizon below previously-retained
            // entries' ts + TTL and evict them early (must also stay
            // strictly ahead of the watermark for EventTimeTimeout)
            if (seen.nonEmpty)
              state.setTimeoutTimestamp(
                math.max(seen.map(_._3).max + ttlMs, wm + 1))
            out.iterator
          }
      }
      .toDF("id1", "id2", "sig_agree")
  }

  /** Incremental-ingest dedup pre-filter using Spark's native
    * runtime-filter machinery (`BloomFilterAggregate` /
    * `BloomFilterMightContain` — the same expressions AQE's
    * InjectRuntimeFilter plants, so the probe is codegen'd, not a UDF):
    * build a Bloom filter over the HISTORICAL corpus's content hashes in
    * one distributed aggregate, then probe the incoming batch with a
    * map-side bit test. `maybe_dup = false` is DEFINITIVE — a novel doc
    * is emitted with NO join against history — while `true` rows (real
    * duplicates plus ~`fpp` false positives) proceed to the exact
    * anti-join. At 100 TB the common ingest case (novel doc) never
    * shuffles and never touches the historical corpus again.
    *
    * Sizing: the serialized filter is ~`-n·ln(fpp)/ln²2 / 8` bytes and
    * ships in the plan (≈ 0.9 GB at 10⁹ items / 3% — size `fpp` up or
    * filter per shard at that scale; 10⁸ items / 3% ≈ 90 MB is the
    * comfortable broadcast ceiling). */
  def bloomMaybeDup(history: DataFrame, batch: DataFrame, textCol: String,
                    expectedItems: Long, fpp: Double = 0.03): DataFrame = {
    import org.apache.spark.sql.graftbridge.bridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.types.BinaryType
    val numBits = math.ceil(
      -expectedItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong
    def keyed(c: Column) = bridge.expression(xxhash64(md5(c)))
    val agg = new BloomFilterAggregate(keyed(col(textCol)),
      Literal(expectedItems), Literal(numBits)).toAggregateExpression()
    val bf = history.select(bridge.column(agg).as("bf")).head().getAs[Array[Byte]](0)
    // empty history aggregates to a null filter; nothing can be a dup then
    // (a null literal would null the whole column instead)
    if (bf == null) batch.withColumn("maybe_dup", lit(false))
    else batch.withColumn("maybe_dup", bridge.column(
      BloomFilterMightContain(Literal(bf, BinaryType), keyed(col(textCol)))))
  }

  /** Doc → word-`n`-gram shingle set (distinct). The words array is
    * materialized first so the split/filter runs once per doc; the shingle
    * lambda then only does O(1) `element_at` lookups. */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"), words(col(textCol)).as("w"))
      .select(col("doc_id"), array_distinct(wordShinglesOf(col("w"), n)).as("shingles"))
      .where(size(col("shingles")) > 0)

  /** Positive long from the first `hexChars` hex chars of md5 — the shared
    * engine-portable hash (DuckDB: `('0x'||substr(md5(s),1,k))::BIGINT`).
    * Default 15 chars = 60 bits (the shingle-index family); callers needing
    * a smaller domain (SimHash's 32-bit word hash, split buckets) pass a
    * shorter prefix. */
  def md5Long(c: Column, hexChars: Int = 15): Column =
    conv(substring(md5(c), 1, hexChars), 16, 10).cast("long")

  /** Per-seed xor constant of the MinHash family: md5Long of the decimal
    * seed string, so the oracle can derive the identical constant in SQL. */
  def seedConst(seed: Int): Long = java.lang.Long.parseLong(
    java.security.MessageDigest.getInstance("MD5")
      .digest(seed.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 15), 16)

  /** Hashed posting list: one row per (doc, distinct shingle hash).
    * Hashing and within-doc dedup happen IN the per-doc array
    * (`array_distinct ∘ transform`) before the explode — the shingles are
    * already distinct strings per doc ([[shingleSets]]), so the dedup only
    * collapses within-doc 60-bit collisions, and doing it array-side
    * removes the `dropDuplicates` exchange that used to shuffle the whole
    * exploded posting set by (doc_id, h) before any consumer's own
    * shuffle (r16 opt: one full posting-scale exchange gone from every
    * n-gram path). */
  def hashedPostings(shingled: DataFrame): DataFrame =
    shingled.select(col("doc_id"),
      explode(array_distinct(transform(col("shingles"), s => md5Long(s))))
        .as("h"))

  /** MinHash signatures: mh_s = min over shingles of (md5Long(shingle) xor
    * seedConst(s)). One md5 per shingle total; NO shuffle — the min is an
    * `array_min` over the per-doc hash array (r16 opt: the old
    * explode + groupBy(doc_id) re-shuffled the full posting set to
    * compute a per-doc aggregate the row already holds). The hash array
    * is materialized once in its own projection so the `numHashes`
    * array_mins share it (CollapseProject keeps a multiply-referenced
    * non-cheap alias in its own project). */
  def minhashSignatures(shingled: DataFrame, numHashes: Int): DataFrame = {
    val hashed = shingled.select(col("doc_id"),
      transform(col("shingles"), s => md5Long(s)).as("__hs"))
    val mins = (0 until numHashes).map(s =>
      array_min(transform(col("__hs"),
        h => h.bitwiseXOR(lit(seedConst(s))))).as(s"mh_$s"))
    hashed.select(col("doc_id") +: mins: _*)
  }

  /** Ordered (id1 < id2) pairs exploded from a sorted id-list column (the
    * LSH candidate generator; the n-gram path inlines a widened variant
    * that carries set sizes in the pair struct). A posting-list groupBy +
    * explode instead of a self-join: the self-join's second branch
    * re-plans the ENTIRE upstream subtree (scan + shingle + hash; no
    * exchange reuse across differently-aliased branches), so the list
    * form halves the corpus scans. */
  private def orderedPairs(lists: DataFrame, idsCol: String): DataFrame =
    lists.select(explode(flatten(transform(col(idsCol), (x, i) =>
        transform(slice(col(idsCol), i + lit(2), size(col(idsCol))),
          y => struct(x.as("id1"), y.as("id2")))))).as("p"))
      .select(col("p.id1"), col("p.id2"))

  /** Capped posting-list builder shared by every banded pairing path:
    * group `buckets` by `keyCols`, keep only buckets with
    * 1 < occupancy ≤ `maxBucket`, and collect each survivor into one
    * sorted list.
    *
    * The occupancy check runs BEFORE `collect_list` ever sees the bucket:
    * a windowed `count` over the same keys (WindowExec buffers a partition
    * in a spillable row array, so a degenerate corpus-sized hot bucket
    * streams through disk) filters the rows, and only kept buckets reach
    * the aggregation buffer — the valve's whole point is that the hot
    * bucket must never materialize as one in-memory array, which a
    * filter AFTER `collect_list` (the pre-round-11 shape) didn't deliver.
    * The window and the groupBy hash-partition on the same keys, so
    * EnsureRequirements inserts ONE exchange for both. */
  private def cappedSortedLists(buckets: DataFrame, keyCols: Seq[String],
                                payload: Column, maxBucket: Int): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
    buckets
      .withColumn("__occ", count(lit(1)).over(w))
      .where(col("__occ") > 1 && col("__occ") <= maxBucket)
      .groupBy(keyCols.map(col): _*)
      .agg(sort_array(collect_list(payload)).as("ids"))
  }

  /** LSH candidate pairs: split the signature into `numBands` bands of
    * `rowsPerBand`, bucket docs sharing any band signature, pairs from
    * each bucket's posting list.
    *
    * `maxBucket` is the skew valve (the list form trades the old
    * self-join's AQE skew splitting for one fewer corpus scan, so a
    * pathological bucket — f docs with identical signatures — would build
    * one f-element array and explode f²/2 pairs in a single task): buckets
    * larger than `maxBucket` are dropped, exactly like the n-gram path's
    * `maxPostings`. Members of an over-full bucket usually still pair in
    * another band; exact duplicates are [[exactGroups]]' job anyway.
    * Over-full buckets are dropped BEFORE aggregation
    * ([[cappedSortedLists]]), so the hot bucket never builds its array. */
  def lshCandidatePairs(signatures: DataFrame, numHashes: Int, numBands: Int,
                        maxBucket: Int = 1024): DataFrame = {
    val rowsPerBand = numHashes / numBands
    val bands = (0 until numBands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"mh_$i"))
      struct(lit(b).as("band"), md5(concat_ws(",", cols: _*)).as("sig"))
    }
    val buckets = signatures
      .select(col("doc_id"), explode(array(bands: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.sig").as("sig"))
    val lists = cappedSortedLists(buckets, Seq("band", "sig"),
      col("doc_id"), maxBucket)
    orderedPairs(lists, "ids").distinct()
  }

  /** Exact Jaccard verification of candidate pairs (the "verify" stage after
    * LSH candidate generation). Melt-join formulation: the pair list is
    * exploded to (pair, doc) and joined to the shingle sets ONCE — joining
    * s1/s2 separately would compute the shingle subtree twice (Spark does
    * not reuse the exchange across differently-aliased branches). Both
    * docs' sets then group back per pair; element 0 is id1's (id1 < id2 by
    * construction, sets sorted by doc id). */
  def jaccardVerify(candidates: DataFrame, shingled: DataFrame, threshold: Double): DataFrame = {
    val two = candidates
      .select(col("id1"), col("id2"),
        explode(array(col("id1"), col("id2"))).as("doc_id"))
      .join(shingled, "doc_id")
      .groupBy("id1", "id2")
      .agg(sort_array(collect_list(struct(col("doc_id").as("d"),
        col("shingles").as("s")))).as("two"))
      .where(size(col("two")) === 2)
    two
      .withColumn("sh1", col("two")(0).getField("s"))
      .withColumn("sh2", col("two")(1).getField("s"))
      .withColumn("inter", size(array_intersect(col("sh1"), col("sh2"))).cast("double"))
      .withColumn("jac", round(col("inter") /
        (size(col("sh1")) + size(col("sh2")) - col("inter")), 6))
      .where(col("jac") >= threshold)
      .select(col("id1"), col("id2"), col("jac"))
  }

  /** Full MinHash+LSH near-dup pipeline. */
  def minhashLsh(docs: DataFrame, idCol: String, textCol: String,
                 shingleN: Int, numHashes: Int, numBands: Int,
                 threshold: Double, maxBucket: Int = 1024): DataFrame = {
    val sh = shingleSets(docs, idCol, textCol, shingleN)
    val sig = minhashSignatures(sh, numHashes)
    jaccardVerify(lshCandidatePairs(sig, numHashes, numBands, maxBucket),
      sh, threshold)
  }

  /** All-pairs n-gram Jaccard via inverted shingle index (no MinHash): pairs
    * sharing ≥1 shingle, with exact Jaccard per pair computed from shared
    * counts — O(postings²) per shingle, the exact-but-smaller-scale
    * baseline the LSH path approximates. The posting join key is the 60-bit
    * md5Long, so the shuffle carries (long, long) rows, not shingle strings;
    * set sizes are derived from the same posting lists (one scan lineage).
    *
    * `maxPostings` is the 100 TB safety valve: a shingle shared by f docs
    * yields f·(f-1)/2 pairs, so one stop-word trigram in 10⁵ docs alone is
    * 5·10⁹ rows. Shingles with a posting list longer than `maxPostings` are
    * dropped from the index ENTIRELY (pair generation AND set sizes — a
    * "filtered universe" Jaccard over discriminative shingles only), which
    * bounds pair fan-out at maxPostings²/2 per shingle. Non-discriminative
    * shingles barely move Jaccard; the oracle mirrors the same drop. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        shingleN: Int, threshold: Double,
                        maxPostings: Int = 1024): DataFrame =
    ngramPairStats(docs, idCol, textCol, shingleN, maxPostings)
      .withColumn("jac", round(col("inter").cast("double") /
        (col("n1") + col("n2") - col("inter")), 6))
      .where(col("jac") >= threshold)
      .select(col("id1"), col("id2"), col("jac"))

  /** Asymmetric CONTAINMENT near-dup pairs: c(A→B) = |A∩B| / |A| over the
    * same hot-capped shingle postings — the detector for quotes, excerpts
    * and supersets, which symmetric Jaccard structurally under-scores (a
    * paragraph fully contained in a book has jac ≈ |A|/|B| ≈ 0 but
    * containment 1). Pairs emit when EITHER direction clears `threshold`;
    * both directions are reported. Same single-scan linear lineage as
    * [[ngramJaccardPairs]]. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       shingleN: Int, threshold: Double,
                       maxPostings: Int = 1024): DataFrame =
    ngramPairStats(docs, idCol, textCol, shingleN, maxPostings)
      .withColumn("c12", round(col("inter").cast("double") / col("n1"), 6))
      .withColumn("c21", round(col("inter").cast("double") / col("n2"), 6))
      .where(greatest(col("c12"), col("c21")) >= threshold)
      .select(col("id1"), col("id2"), col("c12"), col("c21"))

  /** Shared pair-statistics core: (id1, id2, inter, n1, n2) per candidate
    * pair from the capped shingle postings — one corpus scan. */
  private def ngramPairStats(docs: DataFrame, idCol: String, textCol: String,
                             shingleN: Int,
                             maxPostings: Int = 1024): DataFrame = {
    val posts = hashedPostings(shingleSets(docs, idCol, textCol, shingleN))
    // The corpus is scanned exactly ONCE, structurally (r17; the r16 shape
    // derived the per-doc set size from a second reference to the posting
    // subtree, which re-planned the whole scan+shingle+hash chain — at
    // 100 TB a second corpus scan dwarfs everything this query does):
    //  1. window-count occupancy per h, drop hot shingles (the cap);
    //  2. groupBy(h) → sorted posting LISTS, singletons KEPT — this is the
    //     inverted index itself, checkpointed as the one shared artifact
    //     both derivations below read (same physical RDD; the groupBy
    //     reuses the window's h-partitioning, so no new exchange). Under
    //     AQE `localCheckpoint(false)` materializes its shuffle stages
    //     while the query is built, and the checkpoint is released by the
    //     caller (in the harnesses, `Bench.release`);
    //  3. pairs: i<j explode over lists with ≥ 2 docs → count per (id1,
    //     id2) = intersection size. The pair structs carry ONLY the two
    //     ids (the r16 shape shuffled n1/n2 inside every pair row);
    //  4. per-doc filtered-universe set size n: explode the SAME lists and
    //     count per doc (map-side partial aggregation reduces the explode
    //     to one tiny row per doc per partition before it shuffles);
    //  5. attach n1/n2 to the AGGREGATED pair rows — two joins of the
    //     candidate-pair table against the one-row-per-doc table, both
    //     orders of magnitude below posting scale.
    // step 1 as a windowed occupancy filter, NOT collect_list-then-filter:
    // the hot posting list this cap exists for must never materialize as
    // one aggregation-buffer array (WindowExec spills; see
    // [[cappedSortedLists]] for the same argument on the banded paths)
    val kept = posts
      .withColumn("__occ", count(lit(1)).over(Window.partitionBy(col("h"))))
      .where(col("__occ") <= maxPostings)
      .select(col("h"), col("doc_id"))
    val lists = kept.groupBy(col("h"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .localCheckpoint(false)
    val pairs = lists.where(size(col("ids")) > 1)
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids"))),
          y => struct(x.as("id1"), y.as("id2")))))).as("p"))
      .select(col("p.id1"), col("p.id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("inter"))
    val nPerDoc = lists
      .select(explode(col("ids")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    pairs
      .join(nPerDoc.select(col("doc_id").as("id1"), col("n").as("n1")), Seq("id1"))
      .join(nPerDoc.select(col("doc_id").as("id2"), col("n").as("n2")), Seq("id2"))
      .select(col("id1"), col("id2"), col("inter"), col("n1"), col("n2"))
  }

  /** Near-dup clustering: connected components over the verified pair graph
    * (the step after pair generation in a real dedup pipeline — transitive
    * closure groups {A~B, B~C} into one cluster with one keeper). GraphX CC
    * labels every member with the smallest doc id in its component, which
    * doubles as the keeper id. Iterative → GraphX; the DuckDB oracle is the
    * equivalent recursive-CTE reachability min. */
  def dupClusters(pairs: DataFrame): DataFrame = {
    import org.apache.spark.graphx.{Edge, Graph}
    val spark = pairs.sparkSession
    import spark.implicits._
    val edges = pairs.select(col("id1").cast("long"), col("id2").cast("long"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), ()))
    Graph.fromEdges(edges, ()).connectedComponents()
      .vertices.toDF("doc_id", "cluster")
  }

  /** SimHash: `bits`-bit signature from per-word md5 bits, majority-voted.
    * Engine-portable: bit i = bit i of the integer value of md5's first 8
    * hex chars (fits in a Long), +1/-1 tallied over the document's words,
    * sign of the tally → signature bit. Implemented explode-side so the word
    * hash is computed once per word, then a single groupBy builds all bit
    * tallies with map-side combine (one shuffle). Near-dups = equal simhash;
    * Hamming-distance banding would widen recall at scale. */
  def simhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        bits: Int): DataFrame = {
    val tokens = docs
      .select(col(idCol).as("doc_id"), explode(words(lower(col(textCol)))).as("word"))
      .withColumn("h", md5Long(col("word"), 8))
    val tallies = (0 until bits).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1L).otherwise(-1L))
        .as(s"t_$i"))
    val sig = (0 until bits).map(i =>
      when(col(s"t_$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    tokens.groupBy("doc_id")
      .agg(tallies.head, tallies.tail: _*)
      .select(col("doc_id"), sig.as("simhash"))
  }

  def simhashGroups(docs: DataFrame, idCol: String, textCol: String,
                    bits: Int = 16): DataFrame =
    simhashSignatures(docs, idCol, textCol, bits)
      .groupBy("simhash")
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_docs"))
      .where(col("n_docs") > 1)

  /** Banded Hamming pair generation over (doc_id, signature) rows: split
    * the signature into `bands` bit-bands; docs sharing ANY band key are
    * candidates (a signature within Hamming distance < bands must agree on
    * some band — pigeonhole), verified with `bit_count(xor) <= maxDist`.
    *
    * POSTING-LIST form, not a self-join: grouping each (band, key) bucket
    * into one sorted list and exploding ordered pairs (a) scans the
    * signature subtree ONCE where the self-join's second branch re-planned
    * it (no exchange reuse across aliased branches — at corpus scale the
    * signature computation IS the scan), and (b) gives the occupancy a
    * handle: `maxBucket` is the skew valve. A bucket of f docs explodes
    * f²/2 pairs in one task, so a hot key (flat/constant content all
    * hashing alike) is corpus-quadratic without the cap; buckets larger
    * than `maxBucket` are DROPPED — same convention as the MinHash path's
    * [[lshCandidatePairs]] cap and the n-gram `maxPostings`. Members of an
    * over-full bucket usually still pair in a less-degenerate band, and
    * exact duplicates are [[exactGroups]]' job anyway. Dropping happens
    * BEFORE aggregation ([[cappedSortedLists]]): the hot bucket streams
    * through a spillable window count and never builds its array. */
  def simhashBandPairs(sigs: DataFrame, bits: Int, bands: Int,
                       maxDist: Int,
                       maxBucket: Int = 1024): DataFrame = {
    val bandBits = bits / bands
    val mask = (1L << bandBits) - 1
    val bandCols = (0 until bands).map(b => struct(lit(b).as("band"),
      shiftright(col("simhash"), b * bandBits).bitwiseAND(lit(mask)).as("key")))
    val buckets = sigs
      .select(col("doc_id"), col("simhash"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("simhash"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    val lists = cappedSortedLists(buckets, Seq("band", "key"),
      struct(col("doc_id"), col("simhash")), maxBucket)
    lists.select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids"))), y => struct(
          x.getField("doc_id").as("id1"), x.getField("simhash").as("s1"),
          y.getField("doc_id").as("id2"), y.getField("simhash").as("s2")))))).as("p"))
      .select(col("p.id1").as("id1"), col("p.id2").as("id2"),
        bit_count(col("p.s1").bitwiseXOR(col("p.s2"))).cast("long").as("dist"))
      .distinct()
      .where(col("dist") <= maxDist)
  }

  /** [[simhashBandPairs]] generalized to MULTI-WORD signatures — rows are
    * (doc_id, sig: array<long> of `words` 64-bit words, low word first),
    * so e.g. a 3-channel color perceptual hash (192 bits,
    * [[ImageHash.aHashColor]]) bands with the same pigeonhole guarantee:
    * a pair within Hamming distance < bands over the CONCATENATED
    * signature must agree on some band. Bands never straddle a word
    * (totalBits/bands must divide 64), keys extract with one shift+mask
    * from the band's word, and the verified distance is the sum of
    * per-word `bit_count(xor)` — all codegen'd array expressions. Same
    * posting-list shape and `maxBucket` occupancy valve as the
    * single-word form. */
  /** Band/key extraction shared by every multi-word consumer: band b of
    * `bands` over the concatenated words reads bandBits from word
    * (b·bandBits)/64 at offset (b·bandBits)%64 — one shift+mask each. */
  private def multiBandCols(words: Int, bands: Int): Seq[Column] = {
    val totalBits = words * 64
    require(bands > 0 && totalBits % bands == 0,
      s"bands=$bands must divide $totalBits")
    val bandBits = totalBits / bands
    require(bandBits <= 64 && 64 % bandBits == 0,
      s"band width $bandBits must divide a 64-bit word")
    val mask = if (bandBits == 64) -1L else (1L << bandBits) - 1
    (0 until bands).map { b =>
      val w = (b * bandBits) / 64
      val off = (b * bandBits) % 64
      struct(lit(b).as("band"),
        shiftright(col("sig").getItem(w), off).bitwiseAND(lit(mask)).as("key"))
    }
  }

  /** Summed per-word Hamming distance between two array<long> columns. */
  private def multiDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, x) => acc + x)

  def simhashBandPairsMulti(sigs: DataFrame, words: Int, bands: Int,
                            maxDist: Int,
                            maxBucket: Int = 1024): DataFrame = {
    val buckets = sigs
      .select(col("doc_id"), col("sig"),
        explode(array(multiBandCols(words, bands): _*)).as("bk"))
      .select(col("doc_id"), col("sig"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    val lists = cappedSortedLists(buckets, Seq("band", "key"),
      struct(col("doc_id"), col("sig")), maxBucket)
    lists.select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids"))), y => struct(
          x.getField("doc_id").as("id1"), x.getField("sig").as("s1"),
          y.getField("doc_id").as("id2"), y.getField("sig").as("s2")))))).as("p"))
      .select(col("p.id1").as("id1"), col("p.id2").as("id2"),
        multiDist(col("p.s1"), col("p.s2")).as("dist"))
      .distinct()
      .where(col("dist") <= maxDist)
  }

  /** Band index of MULTI-WORD signatures — the persisted artifact of the
    * image/audio ingest near-dup path ((band, key, doc_id, sig) rows, one
    * per (doc, band), carrying the full signature so probes verify
    * WITHOUT re-decoding any media): the [[minhashBandIndex]] shape for
    * Hamming space. Write-once, bucketed by (band, key) at scale; narrow
    * ops only, so the same plan lifts to a streaming probe feed
    * unchanged. */
  def sigBandIndexMulti(sigs: DataFrame, words: Int, bands: Int): DataFrame =
    sigs.select(col("doc_id"), col("sig"),
        explode(array(multiBandCols(words, bands): _*)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.key").as("key"),
        col("doc_id"), col("sig"))

  /** Incremental Hamming near-dup: probe NEW signatures against a
    * persisted [[sigBandIndexMulti]] — the [[probeNearDups]] shape for
    * the image/audio families. Only the batch is decoded and hashed;
    * candidates come from ONE (band, key) equi-join; verification is the
    * summed per-word `bit_count(xor)` of the two STORED signatures, so
    * the corpus media is never re-read. Returns (new_id, old_id, dist)
    * with dist ≤ `maxDist`. */
  /** Streaming twin of [[probeNearDupsMulti]]: `newSigs` is a STREAMING
    * (doc_id, sig) frame probing the static persisted index — a
    * stateless stream-static equi-join exactly like
    * [[streamingProbeNearDups]]. Emits one row PER MATCHING BAND
    * ((new_id, old_id, band, dist)) rather than deduping pairs across
    * bands, which would reintroduce keyed state; consumers needing
    * pair-level output apply `dropDuplicatesWithinWatermark` downstream
    * with their own event-time horizon. */
  def streamingProbeNearDupsMulti(index: DataFrame, newSigs: DataFrame,
                                  words: Int, bands: Int,
                                  maxDist: Int): DataFrame = {
    val probe = sigBandIndexMulti(newSigs, words, bands)
    probe.as("p").join(index.as("x"),
        col("p.band") === col("x.band") && col("p.key") === col("x.key"))
      .select(col("p.doc_id").as("new_id"), col("x.doc_id").as("old_id"),
        col("p.band").as("band"),
        multiDist(col("p.sig"), col("x.sig")).as("dist"))
      .where(col("dist") <= maxDist)
  }

  def probeNearDupsMulti(index: DataFrame, newSigs: DataFrame, words: Int,
                         bands: Int, maxDist: Int): DataFrame = {
    val probe = sigBandIndexMulti(newSigs, words, bands)
    probe.as("p").join(index.as("x"),
        col("p.band") === col("x.band") && col("p.key") === col("x.key"))
      .select(col("p.doc_id").as("new_id"), col("x.doc_id").as("old_id"),
        col("p.sig").as("ps"), col("x.sig").as("xs"))
      .dropDuplicates("new_id", "old_id")
      .select(col("new_id"), col("old_id"),
        multiDist(col("ps"), col("xs")).as("dist"))
      .where(col("dist") <= maxDist)
  }

  /** SimHash near-dups by Hamming banding (see [[simhashBandPairs]] for
    * the pairing shape and the `maxBucket` valve).
    *
    * SIZE `bits` TO THE CORPUS: each band carries bits/bands key bits, so
    * expected bucket size is n / 2^(bits/bands) — the defaults (32/4 ⇒
    * 8-bit keys) suit test-scale corpora, while a 10⁹-doc run wants e.g.
    * bits=64, bands=4 (16-bit keys ⇒ ~15k-doc buckets) so the band
    * keyspace grows with the corpus. Same pigeonhole guarantee at every
    * width; `maxBucket` bounds the fan-out of whatever keys stay hot
    * regardless. */
  def simhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                          bits: Int = 32, bands: Int = 4,
                          maxDist: Int = 3,
                          maxBucket: Int = 1024): DataFrame =
    simhashBandPairs(simhashSignatures(docs, idCol, textCol, bits),
      bits, bands, maxDist, maxBucket)

  /** SemDeDup-style semantic deduplication over an embedding column: cluster
    * the vectors with deterministic seeded k-means ([[Vectors.kmeansCentroids]]),
    * then compare pairs ONLY within a cluster and drop the higher id of any
    * pair with cosine ≥ `threshold` (lowest id is the kept representative —
    * deterministic where the paper's variant uses distance-to-centroid).
    *
    * The clustering is what makes this a 100 TB shape: candidate pairs are
    * bounded by cluster co-membership (the cluster id is the join key, AQE
    * splits hot clusters), never all-pairs. Returns per-cluster
    * (n_members, n_dropped) — the dedup survivor report.
    */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
                    nClusters: Int, lloydIters: Int,
                    threshold: Double): DataFrame = {
    val v = emb.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val cents = Vectors.kmeansCentroids(v, nClusters, lloydIters)
    val assigned = Vectors.assignToCentroids(v, cents)
    val dropped = assigned.as("x").join(assigned.as("y"),
        col("x.cid") === col("y.cid") && col("x.id") < col("y.id"))
      .where(round(cosineSim(col("x.v"), col("y.v")), 6) >= threshold)
      .select(col("x.cid").as("cid"), col("y.id").as("id"))
      .distinct()
    assigned.groupBy("cid").agg(count(lit(1)).as("n_members"))
      .join(dropped.groupBy("cid").agg(count(lit(1)).as("n_dropped")),
        Seq("cid"), "left")
      .select(col("cid"), col("n_members"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
  }

  /** MinHash band index of a corpus — the PERSISTED artifact of the
    * daily-ingest near-dup path: (band, sig, doc_id, mhs) rows, one per
    * (doc, band), carrying the full signature so later probes can
    * Jaccard-estimate WITHOUT ever touching the corpus text again. At
    * 100 TB this is written once, bucketed by (band, sig), exactly like
    * the other write-once layouts; `maxBucket` callers apply the same
    * HAVING-count valve the batch path uses when materializing. */
  def minhashBandIndex(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, numHashes: Int, numBands: Int): DataFrame = {
    val sigs = minhashSignatures(shingleSets(docs, idCol, textCol, n), numHashes)
    val rowsPerBand = numHashes / numBands
    val mharr = array((0 until numHashes).map(i => col(s"mh_$i")): _*)
    val bands = (0 until numBands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"mh_$i"))
      struct(lit(b).as("band"), md5(concat_ws(",", cols: _*)).as("sig"))
    }
    sigs.select(col("doc_id"), mharr.as("mhs"), explode(array(bands: _*)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.sig").as("sig"),
        col("doc_id"), col("mhs"))
  }

  /** Stateless per-row twin of [[minhashBandIndex]]: the MinHash
    * signature is computed with array ops INSIDE each row (array_min over
    * the xored shingle hashes) instead of the batch path's
    * explode+groupBy, so the plan has no aggregation and lifts to
    * Structured Streaming unchanged. Emits identical rows to the batch
    * form — the per-array min and the per-group min see the same
    * (array_distinct'ed) shingle hashes. The batch form stays preferable
    * for bulk indexing: the groupBy shape shares the exploded postings
    * with the other dedup paths. */
  def minhashBandIndexInline(docs: DataFrame, idCol: String, textCol: String,
                             n: Int, numHashes: Int, numBands: Int): DataFrame = {
    val seeds = (0 until numHashes).map(s => lit(seedConst(s)))
    val mhs = array(seeds.map(c =>
      array_min(transform(col("hs"), h => h.bitwiseXOR(c)))): _*)
    val rowsPerBand = numHashes / numBands
    val bands = (0 until numBands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(i => element_at(col("mhs"), i + 1))
      struct(lit(b).as("band"), md5(concat_ws(",", cols: _*)).as("sig"))
    }
    shingleSets(docs, idCol, textCol, n)
      .select(col("doc_id"), transform(col("shingles"), s => md5Long(s)).as("hs"))
      .select(col("doc_id"), mhs.as("mhs"))
      .select(col("doc_id"), col("mhs"), explode(array(bands: _*)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.sig").as("sig"),
        col("doc_id"), col("mhs"))
  }

  /** Streaming twin of [[probeNearDups]]: `newDocs` is a STREAMING frame
    * (the live ingest feed) probing the static persisted index — a
    * stateless stream-static equi-join, so there is no state store to
    * bound at all (the lesson of [[streamingNearDupPairs]]' TTL+cap: the
    * probe-an-index shape needs neither). Emits one row PER MATCHING
    * BAND — (new_id, old_id, band, agree) — rather than deduping pairs
    * across bands, which would reintroduce keyed state; a pair is exact
    * on (new_id, old_id, band), and consumers that need pair-level output
    * apply `dropDuplicatesWithinWatermark` downstream with their own
    * event-time horizon. */
  def streamingProbeNearDups(index: DataFrame, newDocs: DataFrame,
                             idCol: String, textCol: String, n: Int,
                             numHashes: Int, numBands: Int,
                             minAgree: Double): DataFrame = {
    val probe = minhashBandIndexInline(newDocs, idCol, textCol, n,
      numHashes, numBands)
    probe.as("p").join(index.as("x"),
        col("p.band") === col("x.band") && col("p.sig") === col("x.sig"))
      .select(col("p.doc_id").as("new_id"), col("x.doc_id").as("old_id"),
        col("p.band").as("band"),
        round(aggregate(
          zip_with(col("p.mhs"), col("x.mhs"),
            (a, b) => when(a === b, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / numHashes, 6)
          .as("agree"))
      .where(col("agree") >= minAgree)
  }

  /** Incremental near-dup: probe NEW documents against a persisted
    * [[minhashBandIndex]] — the shape that makes near-dup tractable when
    * 1 TB arrives daily against a 100 TB corpus: only the batch is
    * shingled and signed; candidates come from ONE equi-join on the band
    * signature; and verification is the matching-component fraction of
    * the two stored signatures (the unbiased MinHash Jaccard estimator),
    * so the existing corpus is never rescanned, not even for verify.
    * Returns (new_id, old_id, agree) with agree ≥ `minAgree`; agree is
    * k/numHashes — exact binary fractions when numHashes is a power of
    * two, so the value is engine-portable. */
  def probeNearDups(index: DataFrame, newDocs: DataFrame, idCol: String,
                    textCol: String, n: Int, numHashes: Int, numBands: Int,
                    minAgree: Double): DataFrame = {
    val probe = minhashBandIndex(newDocs, idCol, textCol, n, numHashes, numBands)
    probe.as("p").join(index.as("x"),
        col("p.band") === col("x.band") && col("p.sig") === col("x.sig"))
      .select(col("p.doc_id").as("new_id"), col("x.doc_id").as("old_id"),
        col("p.mhs").as("pm"), col("x.mhs").as("xm"))
      .dropDuplicates("new_id", "old_id")
      .select(col("new_id"), col("old_id"),
        round(aggregate(
          zip_with(col("pm"), col("xm"), (a, b) => when(a === b, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / numHashes, 6).as("agree"))
      .where(col("agree") >= minAgree)
  }

  /** Cross-document repeated-SUBSTRING coverage — the token-span analog of
    * suffix-array training-data dedup (find spans of ≥ `n` tokens occurring
    * verbatim in more than one document; a span shared across documents is
    * memorization fuel even when neither document is a full duplicate).
    * Every positioned word-`n`-gram is hashed; a hash seen in ≥ 2 DISTINCT
    * docs marks its `n` token positions covered, and overlapping shingles
    * merge for free through the position-set union — `dup_tokens` is the
    * EXACT number of tokens lying in some cross-document duplicated span,
    * not a shingle count (a 50-token verbatim block scores 50, not 43
    * shingles × n). One row per doc holding at least one such span.
    *
    * Scale shape: positioned shingles are one narrow scan; the dup-hash
    * set is one map-side-combinable distinct-count groupBy; coverage is a
    * semi-join back on the hash (the 100 TB side is never self-joined) and
    * the position explode is bounded by n·|dup occurrences|, concentrated
    * exactly on the spans worth paying for. */
  def dupSpanStats(docs: DataFrame, idCol: String, textCol: String,
                   n: Int): DataFrame = {
    val w = docs.select(col(idCol).as("doc_id"), words(col(textCol)).as("w"))
      .where(size(col("w")) >= n)
    val sh = w.select(col("doc_id"),
        posexplode(wordShinglesOf(col("w"), n)).as(Seq("pos", "shingle")))
      .select(col("doc_id"), col("pos"), md5Long(col("shingle")).as("h"))
    val dupHashes = sh.groupBy("h")
      .agg(count_distinct(col("doc_id")).as("nd"))
      .where(col("nd") >= 2).select("h")
    val covered = sh.join(dupHashes, Seq("h"), "left_semi")
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("t"))
      .distinct()
    w.select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"))
      .join(covered.groupBy("doc_id").agg(count(lit(1)).as("dup_tokens")),
        Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"), col("dup_tokens"))
  }

  /** Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken, SIGMOD'03
    * — the MOSS algorithm): from each sliding window of `winSize`
    * consecutive positioned shingle hashes, select the minimum (rightmost
    * on ties); the union over windows is the fingerprint set. Guarantees
    * every shared substring of ≥ winSize+n−1 tokens yields a shared
    * fingerprint while keeping density ≈ 2/(winSize+1) — position-robust
    * subsampling, unlike mod-p selection which an attacker (or a one-token
    * edit) shifts wholesale.
    *
    * The rightmost-min-of-some-window membership test is decomposed per
    * window offset k into pure window aggregates — h ≤ min(previous
    * winSize−1−k) AND h < min(next k), window fully inside the position
    * range — so selection is ONE keyed window pass, no per-window explode.
    * Returns per-source: positions, selected fingerprints, and selected
    * (doc, fp) pairs whose fingerprint is selected in ≥ 2 docs. */
  def winnowingStats(docs: DataFrame, idCol: String, textCol: String,
                     srcCol: String, n: Int, winSize: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wdf = docs.select(col(idCol).as("doc_id"), col(srcCol).as("source"),
        words(col(textCol)).as("w"))
      .where(size(col("w")) >= n + winSize - 1)
    val sh = wdf.select(col("doc_id"), col("source"),
        posexplode(wordShinglesOf(col("w"), n)).as(Seq("pos", "shingle")))
      .select(col("doc_id"), col("source"), col("pos"),
        md5Long(col("shingle")).as("h"))
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val inf = Long.MaxValue
    var cur = sh
      .withColumn("np", count(lit(1)).over(Window.partitionBy("doc_id")))
    for (j <- 1 until winSize) {
      cur = cur
        .withColumn(s"pm$j",
          coalesce(min("h").over(byDoc.rowsBetween(-j, -1)), lit(inf)))
        .withColumn(s"nm$j",
          coalesce(min("h").over(byDoc.rowsBetween(1, j)), lit(inf)))
    }
    val selectedCond = (0 until winSize).map { k =>
      val windowFits = (col("pos") + k >= winSize - 1) &&
        (col("pos") + k <= col("np") - 1)
      val prevOk = if (winSize - 1 - k == 0) lit(true)
        else col("h") <= col(s"pm${winSize - 1 - k}")
      val nextOk = if (k == 0) lit(true) else col("h") < col(s"nm$k")
      windowFits && prevOk && nextOk
    }.reduce(_ || _)
    val selected = cur.where(selectedCond)
      .select(col("doc_id"), col("source"), col("h")).distinct()
    val shared = selected.groupBy("h")
      .agg(count_distinct(col("doc_id")).as("nd")).where(col("nd") >= 2)
      .select("h")
    val positions = sh.groupBy("source")
      .agg(count(lit(1)).as("n_positions"))
    val sel = selected.groupBy("source")
      .agg(count(lit(1)).as("n_selected"))
    val shr = selected.join(shared, Seq("h"), "left_semi")
      .groupBy("source").agg(count(lit(1)).as("n_shared"))
    positions.join(sel, Seq("source"), "left")
      .join(shr, Seq("source"), "left")
      .select(col("source"), col("n_positions"),
        coalesce(col("n_selected"), lit(0L)).as("n_selected"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
  }

  /** Content-defined chunking (the LBFS/restic/borg boundary trick applied
    * to token streams): a chunk boundary falls wherever the local shingle
    * hash satisfies `h % mask == 0`, so boundaries are decided by CONTENT,
    * not offsets — inserting a sentence shifts every fixed-size window but
    * leaves all CDC chunks outside the edit region identical, which is
    * what makes chunk-level dedup storage incremental. Expected chunk
    * length ≈ `mask` positions.
    *
    * Chunks are fingerprinted by the md5 of their in-order hash sequence
    * (order pinned by position sort, engine-portable), and instances whose
    * fingerprint recurs anywhere in the corpus are the dedupable mass.
    * One narrow scan + a prefix-sum window per doc + one fingerprint
    * groupBy; per-source report: chunks, mean length in micro-positions,
    * duplicate-chunk instances. */
  def cdcChunkStats(docs: DataFrame, idCol: String, textCol: String,
                    srcCol: String, n: Int, mask: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = docs.select(col(idCol).as("doc_id"), col(srcCol).as("source"),
        words(col(textCol)).as("w"))
      .where(size(col("w")) >= n)
      .select(col("doc_id"), col("source"),
        posexplode(wordShinglesOf(col("w"), n)).as(Seq("pos", "shingle")))
      .select(col("doc_id"), col("source"), col("pos"),
        md5Long(col("shingle")).as("h"))
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val chunked = sh.withColumn("chunk_idx",
      coalesce(sum(when(col("h") % mask === 0, 1L).otherwise(0L))
        .over(byDoc), lit(0L)))
    val chunks = chunked.groupBy("doc_id", "source", "chunk_idx")
      .agg(count(lit(1)).as("len"),
        md5(concat_ws(",", transform(
          array_sort(collect_list(struct(col("pos"), col("h")))),
          s => s.getField("h").cast("string")))).as("fp"))
    val dupFps = chunks.groupBy("fp")
      .agg(count(lit(1)).as("cnt")).where(col("cnt") >= 2).select("fp")
    chunks.join(dupFps, Seq("fp"), "left_semi")
      .groupBy("source").agg(count(lit(1)).as("n_dup_chunks"),
        sum("len").as("dup_positions"))
      .join(chunks.groupBy("source")
        .agg(count(lit(1)).as("n_chunks"), sum("len").as("n_positions")),
        Seq("source"), "right")
      .select(col("source"), col("n_chunks"),
        expr("(n_positions * 1000000) div n_chunks").as("mean_len_micro"),
        coalesce(col("n_dup_chunks"), lit(0L)).as("n_dup_chunks"),
        coalesce(col("dup_positions"), lit(0L)).as("dup_positions"))
  }

  /** Paragraph-level cross-document dedup — the C4 duplicate-line-removal
    * analog for corpora without line structure: documents are cut into
    * non-overlapping `chunkSize`-word windows ([[TextOps.chunkDocs]] with
    * step = size), each window md5-fingerprinted, and windows recurring in
    * MORE THAN ONE document are the removable boilerplate. Returns the
    * audit histogram a pipeline reads before enabling removal:
    * (n_docs sharing the chunk, n_chunks, n_occurrences, dup_tokens).
    *
    * Scale shape: chunking is a narrow map (zero shuffle); the only
    * shuffle groups by chunk hash, where hot boilerplate (site templates
    * repeated millions of times) collapses map-side to one row per hash
    * per task before the exchange. The histogram rollup is tiny. */
  def chunkDupStats(docs: DataFrame, chunkSize: Int): DataFrame =
    TextOps.chunkDocs(docs, chunkSize, chunkSize)
      .groupBy(md5(col("chunk_text")).as("h"))
      .agg(count_distinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        sum(col("n_tokens").cast("long")).as("dup_tokens"))
      .where(col("n_docs") > 1)
      .groupBy(col("n_docs"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("n_occurrences")).as("n_occurrences"),
        sum(col("dup_tokens")).as("dup_tokens"))
}
