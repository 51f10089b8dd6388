package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Checkpoint
import graft.functions._

/** Vector similarity & KNN (SURVEY §2.6 V1-V5; reference
  * retrieval/retriever.py:14-25,49-60 — Neo4j `db.index.vector.queryNodes`
  * with cosine, ef up to 10,000, plus exclusion of already-found nodes).
  *
  * Two physical strategies:
  *  - [[bruteForceTopK]]: exact — score every row, `ORDER BY sim DESC LIMIT
  *    k`. Catalyst plans the sort+limit as TakeOrderedAndProject: each
  *    partition keeps a k-heap, the driver merges 32 (or 1000) heaps — no
  *    global sort, no shuffle of the scored set. This is the right *exact*
  *    plan at any scale; cost is one scan.
  *  - [[lshTopK]]: approximate — sign-bit random-hyperplane bucketing
  *    (SimHash-style LSH). Candidates = rows in the query's bucket, so the
  *    scan prunes to ~N/2^bits rows when the bucket column is a partition or
  *    z-order key. This is the 100 TB path: bucket id is computed at write
  *    time and used for partition pruning.
  *
  * Embeddings are cast to `array<double>` once; at scale you'd L2-normalize
  * at load so cosine degenerates to dot product ([[graft.functions.l2Normalize]]).
  */
object Vectors {

  /** Score every row against `query` with cosine similarity (V1). */
  def scored(emb: DataFrame, vecCol: String, query: Seq[Double]): DataFrame = {
    val q = lit(query.toArray)
    emb.withColumn("similarity",
      cosineSim(col(vecCol).cast("array<double>"), q))
  }

  /** V2 — exact KNN with optional exclusion of already-found ids
    * (`WHERE NOT node.nodeId IN $found` — retrieval/retriever.py:16).
    * Ordering is made deterministic by rounding the similarity to 6 decimals
    * and tie-breaking on the id column, so results are reproducible across
    * engines and partitionings. */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
                     query: Seq[Double], k: Int,
                     exclude: Seq[Long] = Nil): DataFrame = {
    val base = if (exclude.isEmpty) emb else emb.where(!col(idCol).isin(exclude: _*))
    scored(base, vecCol, query)
      .withColumn("similarity", round(col("similarity"), 6))
      .orderBy(col("similarity").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("similarity"))
  }

  /** Matryoshka truncation report: recall@k of prefix-dimension cosine
    * search against the full-dimension exact top-k, one row per prefix
    * width. Matryoshka-trained embeddings concentrate signal in the prefix
    * so a pipeline can store/search d'«d dims and re-rank the survivors at
    * full width; this report is the measurement that decides d' — run it
    * before committing a 100 TB corpus to a truncated index layout. Each
    * prefix search is the same one-pass scan shape as [[bruteForceTopK]]
    * (narrow projection of the first d' array slots; at scale the prefix
    * slice is what you'd materialize as its own column for a pruned scan). */
  def matryoshkaRecall(emb: DataFrame, idCol: String, vecCol: String,
                       query: Seq[Double], k: Int,
                       dims: Seq[Int]): DataFrame = {
    val full = bruteForceTopK(emb, idCol, vecCol, query, k).select(col(idCol))
    dims.map { d =>
      val sliced = emb.select(col(idCol),
        slice(col(vecCol).cast("array<double>"), 1, d).as("v"))
      bruteForceTopK(sliced, idCol, "v", query.take(d), k)
        .select(col(idCol))
        .join(full, idCol :: Nil)
        .agg(round(count(lit(1)).cast("double") / k, 6).as("recall"))
        .select(lit(d).as("dim"), col("recall"))
    }.reduce(_ unionByName _).orderBy("dim")
  }

  /** Sign-bit LSH bucket id over the first `bits` dimensions: a string of
    * 0/1 per dimension sign. Deterministic and engine-portable (the DuckDB
    * oracle recomputes it with the same CASE expression). With random
    * hyperplanes you'd dot against stored projection vectors; sign-of-dim is
    * the seedless special case (axis-aligned hyperplanes). */
  def lshBucket(vec: Column, bits: Int): Column =
    concat((0 until bits).map(i =>
      when(element_at(vec, i + 1) >= 0, lit("1")).otherwise(lit("0"))): _*)

  /** ANN: search the query's LSH bucket, then exact top-k inside it.
    *
    * `probeRadius = 1` enables standard MULTI-PROBE: also search every
    * bucket at Hamming distance 1 from the query's (flip one sign bit —
    * `bits` extra buckets). Single-probe recall collapses silently when a
    * query lands near a hyperplane (its nearest neighbors sit just across
    * the flipped bit); multi-probe recovers exactly those neighbors while
    * keeping the same pruning shape — the probe set is still a static IN
    * list on the bucket expression, a partition/file-skipping key at
    * scale, touching (bits+1)/2^bits of the data instead of 1/2^bits. */
  def lshTopK(emb: DataFrame, idCol: String, vecCol: String,
              query: Seq[Double], k: Int, bits: Int,
              probeRadius: Int = 0): DataFrame = {
    require(probeRadius <= 2, "only Hamming radius 0/1/2 probing is implemented")
    val qBucket = query.take(bits).map(v => if (v >= 0) "1" else "0").mkString
    def flip(b: String, i: Int): String =
      b.updated(i, if (b(i) == '1') '0' else '1')
    val r1 = (0 until bits).map(flip(qBucket, _))
    val r2 = for (i <- 0 until bits; j <- i + 1 until bits)
      yield flip(flip(qBucket, i), j)
    val probes = probeRadius match {
      case r if r <= 0 => Seq(qBucket)
      case 1           => qBucket +: r1
      case _           => (qBucket +: r1) ++ r2
    }
    val vec = col(vecCol).cast("array<double>")
    scored(emb.where(lshBucket(vec, bits).isin(probes: _*)), vecCol, query)
      .withColumn("similarity", round(col("similarity"), 6))
      .orderBy(col("similarity").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("similarity"))
  }

  /** Assignment: argmax cosine over centroids (broadcast nested loop is
    * fine — |centroids| is small by construction; ties → smallest cid).
    * Input columns (id, v); centroid columns (cid, cv). */
  private[graft] def assignToCentroids(v: DataFrame, centroids: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("csim").desc, col("cid"))
    v.crossJoin(broadcast(centroids))
      .withColumn("csim", round(cosineSim(col("v"), col("cv")), 6))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("id"), col("v"), col("cid"))
  }

  /** Probe + in-cell exact top-k shared by the IVF variants. */
  private def ivfSearch(assigned: DataFrame, centroids: DataFrame,
                        idCol: String, query: Seq[Double],
                        k: Int, nProbe: Int): DataFrame = {
    val q = lit(query.toArray)
    val probes = centroids
      .withColumn("qsim", round(cosineSim(col("cv"), q), 6))
      .orderBy(col("qsim").desc, col("cid"))
      .limit(nProbe)
      .select(col("cid"))
    assigned.join(broadcast(probes), "cid")
      .withColumn("similarity", round(cosineSim(col("v"), q), 6))
      .orderBy(col("similarity").desc, col("id"))
      .limit(k)
      .select(col("id").as(idCol), col("similarity"))
  }

  /** IVF (inverted-file) ANN — the standard coarse-quantization scale path:
    * "train" centroids (deterministically: the first `nCentroids` vectors by
    * id — a seeded sample stands in for k-means, which would be an offline
    * job at 100 TB), assign every vector to its nearest centroid (one
    * broadcast join — the centroid table is tiny), then at query time probe
    * only the `nProbe` centroids nearest the query. With the centroid id as
    * a partition key the probe prunes the scan to ~nProbe/nCentroids of the
    * data; here it prunes rows via a broadcast semi-join.
    */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
              query: Seq[Double], k: Int, nCentroids: Int, nProbe: Int): DataFrame = {
    val vec = col(vecCol).cast("array<double>")
    val centroids = emb.orderBy(col(idCol)).limit(nCentroids)
      .select(col(idCol).as("cid"), vec.as("cv"))
    val assigned = assignToCentroids(
      emb.select(col(idCol).as("id"), vec.as("v")), centroids)
    ivfSearch(assigned, centroids, idCol, query, k, nProbe)
  }

  /** Seeded + Lloyd-refined k-means centroids over (id, v) rows — the
    * shared deterministic trainer behind [[ivfKmeansTopK]] and
    * [[Dedup.semanticDedup]]: seeds are the first `nCentroids` vectors by
    * id; each iteration is one broadcast assign + one (cid, dim)-keyed
    * rounded mean. */
  private[graft] def kmeansCentroids(v: DataFrame, nCentroids: Int,
                                     lloydIters: Int): DataFrame = {
    var centroids = v.orderBy(col("id")).limit(nCentroids)
      .select(col("id").as("cid"), col("v").as("cv"))
    for (_ <- 1 to lloydIters) {
      centroids = assignToCentroids(v, centroids)
        .select(col("cid"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy(col("cid"), col("i"))
        .agg(avg(col("x")).as("m"))
        .groupBy(col("cid"))
        .agg(transform(
          array_sort(collect_list(struct(col("i").as("i"), round(col("m"), 6).as("m")))),
          s => s.getField("m")).as("cv"))
    }
    centroids
  }

  /** Mean-centered cosine retrieval: subtract the corpus per-dimension
    * mean (rounded to 6 — the kmeans-mean convention) from every vector
    * AND the query, then exact cosine top-k. Centering is the standard
    * anisotropy correction for embedding retrieval (all-but-the-top
    * without the PCA step): a large shared component dominates raw cosine
    * and centering removes it. The mean is one (dim)-keyed aggregate
    * broadcast back — the corpus is scanned once, and the centered scan
    * stays whole-stage codegen (zip_with + the codegen'd cosine). */
  def centeredTopK(emb: DataFrame, idCol: String, vecCol: String,
                   queryId: Long, k: Int): DataFrame = {
    val v = emb.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val mean = v
      .select(posexplode(col("v")).as(Seq("i", "x")))
      .groupBy("i").agg(round(avg("x"), 6).as("m"))
      .agg(transform(
        array_sort(collect_list(struct(col("i").as("i"), col("m").as("m")))),
        s => s.getField("m")).as("mv"))
    val centered = v.crossJoin(broadcast(mean))
      .withColumn("cv", zip_with(col("v"), col("mv"), (a, b) => a - b))
    val q = centered.where(col("id") === queryId)
      .select(col("cv").as("qv"))
    centered.crossJoin(broadcast(q))
      .select(col("id").as("vec_id"),
        round(cosineSim(col("cv"), col("qv")), 6).as("similarity"))
      .orderBy(col("similarity").desc, col("vec_id"))
      .limit(k)
  }

  /** Clustering-quality report for the trained layout: per centroid, the
    * member count (cell balance — skewed occupancy means skewed partition
    * sizes on disk) and the angular inertia Σ(1e6 − cos_micro(v, cv)) in
    * integer micro-units (the decides-how-many-Lloyd-rounds signal). One
    * broadcast assign + one keyed rollup; centroid tables stay
    * broadcast-sized by construction. */
  def kmeansQualityReport(emb: DataFrame, idCol: String, vecCol: String,
                          nCentroids: Int, lloydIters: Int): DataFrame = {
    val v = emb.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val cents = kmeansCentroids(v, nCentroids, lloydIters)
    assignToCentroids(v, cents)
      .join(broadcast(cents), Seq("cid"))
      .withColumn("cm",
        round(cosineSim(col("v"), col("cv")) * 1000000L, 0).cast("long"))
      .groupBy("cid")
      .agg(count(lit(1)).as("n_members"),
        sum(lit(1000000L) - col("cm")).as("inertia_micro"),
        min("cm").as("worst_cos_micro"))
  }

  /** IVF with k-means-TRAINED centroids: a fixed number of Lloyd
    * iterations refines the seeded centroids (assign → per-dimension mean,
    * components rounded to 6 decimals so both engines agree bit-for-bit).
    * Fixed iteration count keeps it deterministic AND oracle-expressible —
    * the DuckDB oracle unrolls the same iterations as CTEs, like the
    * PageRank oracle. At 100 TB the train loop runs on a sample as an
    * offline job; each iteration here is one broadcast assign (narrow) +
    * one (cid, dim)-keyed mean (one shuffle of |N|·dim skinny rows).
    * Clusters that lose all members drop out naturally. */
  def ivfKmeansTopK(emb: DataFrame, idCol: String, vecCol: String,
                    query: Seq[Double], k: Int, nCentroids: Int, nProbe: Int,
                    lloydIters: Int = 2): DataFrame = {
    val vec = col(vecCol).cast("array<double>")
    val v = emb.select(col(idCol).as("id"), vec.as("v"))
    val centroids = kmeansCentroids(v, nCentroids, lloydIters)
    ivfSearch(assignToCentroids(v, centroids), centroids, idCol, query, k, nProbe)
  }

  /** Product quantization (PQ) ANN — the memory-compression scale path
    * complementing IVF's scan pruning: each vector splits into `m`
    * subvectors; each subspace trains a `kCodes`-entry codebook (seeded at
    * the first `kCodes` vectors by id, refined by `lloydIters` rounded-mean
    * Lloyd steps — fixed iterations keep it deterministic and the DuckDB
    * oracle unrolls the same steps as CTEs); every vector is then stored as
    * `m` small codes (m bytes vs 8·dim — at 100 TB the search scans ONLY
    * the code table). Query scoring is the standard asymmetric distance
    * (ADC): per-subspace squared-L2 tables between the query's subvectors
    * and each codebook entry, broadcast-joined to the codes and summed per
    * id. The approximate top-`ef` candidates are re-ranked by exact cosine
    * (one broadcast semi-join back to the vectors) → top-`k`.
    *
    * All distances are rounded to 6 decimals with id/code tiebreaks, so
    * assignment, candidate order and the final ranking are reproducible
    * across engines and partitionings.
    */
  def pqTopK(emb: DataFrame, idCol: String, vecCol: String, query: Seq[Double],
             k: Int, m: Int, kCodes: Int, lloydIters: Int = 1,
             ef: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dim = query.length
    require(dim % m == 0, s"query dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val vec = col(vecCol).cast("array<double>")
    val e = emb.select(col(idCol).as("id"), vec.as("v"))
    val sv = e.select(col("id"), posexplode(
        transform(sequence(lit(0), lit(m - 1)),
          i => slice(col("v"), i * lit(sub) + 1, lit(sub)))).as(Seq("sub", "sv")))

    def sqDist(x: Column, y: Column): Column =
      round(aggregate(zip_with(x, y, (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, d) => acc + d), 6)

    val seedIds = e.orderBy("id").limit(kCodes).select(col("id").as("code"))
    var cb = sv.join(broadcast(seedIds), sv("id") === seedIds("code"))
      .select(col("sub"), col("code"), col("sv").as("cv"))

    // argmin of rounded squared L2 per (id, sub); ties → smallest code
    def assign(cbk: DataFrame): DataFrame = {
      val w = Window.partitionBy("id", "sub").orderBy(col("d2").asc, col("code"))
      sv.join(broadcast(cbk), "sub")
        .withColumn("d2", sqDist(col("sv"), col("cv")))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("id"), col("sub"), col("sv"), col("code"))
    }

    for (_ <- 1 to lloydIters) {
      cb = assign(cb)
        .select(col("sub"), col("code"), posexplode(col("sv")).as(Seq("i", "x")))
        .groupBy("sub", "code", "i").agg(avg("x").as("mx"))
        .groupBy("sub", "code")
        .agg(transform(
          array_sort(collect_list(struct(col("i").as("i"), round(col("mx"), 6).as("mx")))),
          t => t.getField("mx")).as("cv"))
    }

    val codes = assign(cb).select("id", "sub", "code")
    val qsubs: Seq[Seq[Double]] = query.grouped(sub).map(_.toSeq).toSeq
    val qd = cb.withColumn("qd2",
        sqDist(col("cv"), element_at(typedLit(qsubs), col("sub") + 1)))
      .select(col("sub"), col("code"), col("qd2"))
    val cand = codes.join(broadcast(qd), Seq("sub", "code"))
      .groupBy("id").agg(round(sum("qd2"), 6).as("adist"))
      .orderBy(col("adist").asc, col("id"))
      .limit(ef)
    e.join(broadcast(cand.select("id")), "id")
      .withColumn("similarity", round(cosineSim(col("v"), lit(query.toArray)), 6))
      .orderBy(col("similarity").desc, col("id"))
      .limit(k)
      .select(col("id").as(idCol), col("similarity"))
  }

  /** IVF-PQ with residual encoding — the composition production vector
    * stores actually ship (FAISS `IndexIVFPQ`): the coarse IVF quantizer
    * prunes the scan to `nProbe`/`nCells` of the corpus, and PQ codes over
    * the RESIDUAL (v − centroid) compress what remains to `m` bytes per
    * vector. Encoding residuals instead of raw vectors is the load-bearing
    * trick: within a cell the residuals are small and centered, so the
    * shared `kCodes`-entry codebooks quantize them far more finely than
    * they could the raw vectors.
    *
    * Train: coarse centroids are the first `nCells` vectors by id (the
    * deterministic stand-in for an offline k-means, as in [[ivfTopK]]);
    * sub-codebooks are seeded at the first `kCodes` ids' residual
    * subvectors and refined by `lloydIters` rounded-mean Lloyd steps
    * (fixed iterations keep the whole train oracle-expressible as
    * unrolled CTEs). Search: probe the `nProbe` cells nearest the query,
    * compute the query's PER-CELL residual, build the (cell, sub, code)
    * ADC lookup table (nProbe·m·kCodes rows — broadcast), sum per id, and
    * exact-cosine re-rank the top `ef`.
    *
    * Scale shape: both the centroid table and the ADC table broadcast;
    * the only full-corpus operations are the one-time assign/encode scans
    * (write-time work in a real store — see [[graft.sources.VectorStore]]
    * for the cell-partitioned layout) and the code-table probe, which
    * reads `nProbe`/`nCells` of an `m`-byte-per-row table. Every distance
    * is rounded to 6 decimals with id/code tiebreaks, so assignment,
    * candidates, and the final ranking reproduce across engines. */
  def ivfPqTopK(emb: DataFrame, idCol: String, vecCol: String,
                query: Seq[Double], k: Int, nCells: Int, nProbe: Int,
                m: Int, kCodes: Int, lloydIters: Int = 1,
                ef: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dim = query.length
    require(dim % m == 0, s"query dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val vec = col(vecCol).cast("array<double>")
    val e = emb.select(col(idCol).as("id"), vec.as("v"))
    val cents = e.orderBy(col("id")).limit(nCells)
      .select(col("id").as("cid"), col("v").as("cv"))
    // coarse assign + residual (IEEE subtract — both engines agree bitwise)
    val res = assignToCentroids(e, cents)
      .join(broadcast(cents), Seq("cid"))
      .select(col("id"), col("cid"),
        zip_with(col("v"), col("cv"), (a, b) => a - b).as("r"))
    val sv = res.select(col("id"), col("cid"), posexplode(
        transform(sequence(lit(0), lit(m - 1)),
          i => slice(col("r"), i * lit(sub) + 1, lit(sub)))).as(Seq("sub", "sv")))

    def sqDist(x: Column, y: Column): Column =
      round(aggregate(zip_with(x, y, (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, d) => acc + d), 6)

    val seedIds = e.orderBy("id").limit(kCodes).select(col("id").as("code"))
    var cb = sv.join(broadcast(seedIds), sv("id") === seedIds("code"))
      .select(col("sub"), col("code"), col("sv").as("cv"))

    def assign(cbk: DataFrame): DataFrame = {
      val w = Window.partitionBy("id", "sub").orderBy(col("d2").asc, col("code"))
      sv.join(broadcast(cbk), "sub")
        .withColumn("d2", sqDist(col("sv"), col("cv")))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("id"), col("cid"), col("sub"), col("sv"), col("code"))
    }

    for (_ <- 1 to lloydIters) {
      cb = assign(cb)
        .select(col("sub"), col("code"), posexplode(col("sv")).as(Seq("i", "x")))
        .groupBy("sub", "code", "i").agg(avg("x").as("mx"))
        .groupBy("sub", "code")
        .agg(transform(
          array_sort(collect_list(struct(col("i").as("i"), round(col("mx"), 6).as("mx")))),
          t => t.getField("mx")).as("cv"))
    }

    val codes = assign(cb).select("id", "cid", "sub", "code")
    val q = lit(query.toArray)
    val probes = cents
      .withColumn("qsim", round(cosineSim(col("cv"), q), 6))
      .orderBy(col("qsim").desc, col("cid"))
      .limit(nProbe)
      .select(col("cid"),
        zip_with(q, col("cv"), (a, b) => a - b).as("qr"))
    // ADC table: one row per (probed cell, sub, code)
    val qd = cb.crossJoin(broadcast(probes))
      .withColumn("qd2", sqDist(col("cv"),
        slice(col("qr"), col("sub") * lit(sub) + 1, lit(sub))))
      .select(col("cid"), col("sub"), col("code"), col("qd2"))
    val cand = codes.join(broadcast(qd), Seq("cid", "sub", "code"))
      .groupBy("id").agg(round(sum("qd2"), 6).as("adist"))
      .orderBy(col("adist").asc, col("id"))
      .limit(ef)
    e.join(broadcast(cand.select("id")), "id")
      .withColumn("similarity", round(cosineSim(col("v"), q), 6))
      .orderBy(col("similarity").desc, col("id"))
      .limit(k)
      .select(col("id").as(idCol), col("similarity"))
  }

  /** Scalar (int8) quantization ANN — the storage-compression member of
    * the quantization family (LSH buckets / IVF lists / PQ codes / SQ8
    * codes): per-dimension corpus min/max maps every value to a 0..255
    * code (4 bytes -> 1 byte per dim at rest), search dequantizes codes
    * against the query with an asymmetric distance, and the top-ef
    * candidates get an exact cosine re-rank.
    *
    * Every float reduction is an ordered array fold (`aggregate` over
    * `zip_with`) and the quantize/dequantize arithmetic is fixed-shape, so
    * the whole path — codes included — reproduces exactly in SQL. The
    * per-dim stats aggregate to ONE row carrying the min/max arrays,
    * which broadcasts; nothing driver-side. */
  def sq8TopK(emb: DataFrame, idCol: String, vecCol: String,
              query: Seq[Double], k: Int, ef: Int): DataFrame = {
    val e = emb.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    val stats = e.select(posexplode(col("v")).as(Seq("i", "x")))
      .groupBy("i").agg(min("x").as("mn"), max("x").as("mx"))
      .agg(
        transform(array_sort(collect_list(struct(col("i").as("i"), col("mn").as("s")))),
          t => t.getField("s")).as("mna"),
        transform(array_sort(collect_list(struct(col("i").as("i"), col("mx").as("s")))),
          t => t.getField("s")).as("mxa"))
    val qlit = lit(query.toArray)
    val coded = e.crossJoin(broadcast(stats))
      .withColumn("rng", zip_with(col("mxa"), col("mna"), (a, b) => a - b))
      .withColumn("codes", zip_with(
        zip_with(col("v"), col("mna"), (a, b) => a - b), col("rng"),
        (n, r) => when(r === 0.0, lit(0))
          .otherwise(round(n / r * lit(255.0)).cast("int"))))
      .withColumn("dq", zip_with(
        zip_with(col("codes"), col("rng"),
          (c, r) => c.cast("double") / lit(255.0) * r),
        col("mna"), (x, mn) => x + mn))
      .withColumn("adist", round(aggregate(
        zip_with(col("dq"), qlit, (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, d) => acc + d), 6))
    val cand = coded.select("id", "adist")
      .orderBy(col("adist").asc, col("id")).limit(ef)
    e.join(broadcast(cand.select("id")), Seq("id"))
      .withColumn("similarity", round(cosineSim(col("v"), qlit), 6))
      .orderBy(col("similarity").desc, col("id"))
      .limit(k)
      .select(col("id").as(idCol), col("similarity"))
  }

  /** All-pairs near-duplicate detection over embeddings via LSH bucketing:
    * pairs sharing a bucket whose cosine ≥ threshold (the embedding-cosine
    * near-dup path of a training-data pipeline). The bucket join bounds the
    * candidate set; at scale buckets are the shuffle key and AQE handles
    * skewed buckets. */
  def nearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                   bits: Int, threshold: Double): DataFrame = {
    val vec = col(vecCol).cast("array<double>")
    val b = emb.select(col(idCol).as("id"), vec.as("v"))
      .withColumn("bucket", lshBucket(col("v"), bits))
    val pairs = b.as("x").join(b.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id1"), col("y.id").as("id2"),
        round(cosineSim(col("x.v"), col("y.v")), 6).as("cos_sim"))
    pairs.where(col("cos_sim") >= threshold)
  }

  /** Cross-group parallel-pair mining (the bitext-mining shape: find each
    * item's best semantic match in a DIFFERENT group — language, source,
    * snapshot — the candidate generator for translation pairs, cross-source
    * duplicates, and contrastive positives). Candidates come from the same
    * LSH bucket join as [[nearDupPairs]] but with a group-INEQUALITY
    * predicate; each left item keeps only its best (max cosine, id
    * tiebreak) cross-group partner at or above `threshold`. The per-id1
    * top-1 is a window over the already-thresholded candidate set — state
    * per bucket stays bounded, and at scale the bucket is the shuffle key
    * exactly as in the near-dup path. */
  def crossGroupPairs(emb: DataFrame, idCol: String, vecCol: String,
                      groupCol: String, bits: Int,
                      threshold: Double): DataFrame = {
    val vec = col(vecCol).cast("array<double>")
    val b = emb.select(col(idCol).as("id"), col(groupCol).as("grp"),
        vec.as("v"))
      .withColumn("bucket", lshBucket(col("v"), bits))
    val pairs = b.as("x").join(b.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.grp") =!= col("y.grp"))
      .select(col("x.id").as("id1"), col("y.id").as("id2"),
        col("x.grp").as("grp1"), col("y.grp").as("grp2"),
        round(cosineSim(col("x.v"), col("y.v")), 6).as("cos_sim"))
      .where(col("cos_sim") >= threshold)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id1")).orderBy(col("cos_sim").desc, col("id2"))
    pairs.withColumn("rk", row_number().over(w))
      .where(col("rk") === 1).drop("rk")
  }

  /** Per-label embedding centroids, one dimension per row: (label, dim,
    * n_vecs, centroid). posexplode keeps the whole computation one scan +
    * one map-side-combinable aggregate — the class-prototype /
    * cluster-drift probe over a vector column. */
  def labelCentroids(emb: DataFrame, labelCol: String,
                     vecCol: String): DataFrame =
    emb.select(col(labelCol).as("label"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "v")))
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n_vecs"), round(avg("v"), 6).as("centroid"))

  /** Pairwise cosine affinity between label centroids (which classes sit
    * close in embedding space — the cluster-drift / label-confusion
    * probe). Centroids are rounded to 6 decimals BEFORE the pairwise
    * cosine so the tiny |labels|² comparison starts from engine-identical
    * inputs. */
  def labelAffinity(emb: DataFrame, labelCol: String,
                    vecCol: String): DataFrame = {
    val cent = labelCentroids(emb, labelCol, vecCol)
      .groupBy("label")
      .agg(transform(
        array_sort(collect_list(struct(col("dim").as("d"), col("centroid").as("c")))),
        t => t.getField("c")).as("cv"))
    cent.as("x").join(cent.as("y"), col("x.label") < col("y.label"))
      .select(col("x.label").as("label_a"), col("y.label").as("label_b"),
        round(cosineSim(col("x.cv"), col("y.cv")), 6).as("cos_sim"))
  }

  /** Hard-negative mining for contrastive training data: for each anchor,
    * the top-k most-similar rows with a DIFFERENT label. Candidates are
    * generated per shared LSH bucket — the anchor page (bounded, user-
    * picked) broadcasts, and the corpus side streams by with the bucket
    * equi-key pruning the pairing, so the corpus never self-joins. Top-k
    * per anchor is one keyed window over the (small) candidate set. */
  def hardNegatives(emb: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, anchorIds: Seq[Long], bits: Int,
                    k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withB = emb.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"), col(labelCol).as("lbl"),
      lshBucket(col(vecCol).cast("array<double>"), bits).as("bucket"))
    val anchors = withB.where(col("id").isin(anchorIds: _*))
    broadcast(anchors).as("a")
      .join(withB.as("c"), col("a.bucket") === col("c.bucket") &&
        col("a.lbl") =!= col("c.lbl"))
      .select(col("a.id").as("anchor_id"), col("c.id").as("neg_id"),
        round(cosineSim(col("a.v"), col("c.v")), 6).as("sim"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("anchor_id")
          .orderBy(col("sim").desc, col("neg_id"))))
      .where(col("rn") <= k).drop("rn")
  }

  /** Deterministic sparse random projection (Achlioptas-style) — the
    * dimension-reduction step in front of ANN/clustering at 100 TB: dOut
    * integer components per vector, each `Σ_j round(v[j]·1e6) · s(i,j)`
    * with the sign matrix derived from md5("<seed><i>_<j>") — first hex
    * char '0' → +1, '1' → −1, else 0 (density 1/8, the sparse-JL regime;
    * the √s scale factor is omitted since downstream cosine/ordering is
    * scale-invariant).
    *
    * Hash-exactness: inputs are micro-quantized to Long BEFORE the sum, so
    * the arithmetic is order-independent integer math — no float-summation
    * drift between engines. The sign matrix is computed once driver-side
    * (dOut·dIn entries) and shipped as literals: the 100 TB shape is a
    * broadcast projection matrix, never a per-row hash recomputation. */
  /** Top principal direction by integer power iteration over the
    * mean-centered embedding matrix — the spectral sibling of
    * [[randomProjection]] (data-driven axis instead of hash-driven).
    * Fully relational so 100 TB of vectors never materialize as a
    * matrix: per round, (1) dot products dpᵢ = xᵢ·v as one keyed sum
    * over the exploded (id, dim, value) table, (2) the new direction
    * u = Σᵢ dpᵢ·xᵢ as the transposed keyed sum, (3) renormalization to
    * milli scale by the max-|u| component (integer division — TRUNCATING
    * in both engines, u goes negative). The direction vector is d rows —
    * always broadcast; the corpus shuffles only on id/dim keys.
    *
    * Everything is milli-quantized (not the usual micro) so the
    * worst-case product chain n·d·x²·v stays inside Long — documented
    * range: n·d·|x|²_milli·1000 < 2⁶³, i.e. ~10¹⁰ rows at |x| ≤ 1.
    * Centering uses truncating sum-div-count (identical cross-engine).
    * Sign is deterministic (same arithmetic both engines), converging to
    * ±(top eigenvector) as rounds grow. */
  /** Milli-quantized, mean-centered exploded matrix (id, i, x) — the
    * shared front of [[powerIterationTopDir]] and [[abttTopK]], eagerly
    * checkpointed so both its consumers read materialized blocks. */
  private[graft] def milliCentered(emb: DataFrame, idCol: String,
                                   vecCol: String): DataFrame = {
    val x0 = emb
      .select(col(idCol).as("id"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("i", "xv")))
      .select(col("id"), col("i"),
        round(col("xv") * 1000L, 0).cast("long").as("x"))
    val means = x0.groupBy("i").agg(expr("sum(x) div count(1)").as("mu"))
    Checkpoint(x0.join(broadcast(means), Seq("i"))
      .select(col("id"), col("i"), (col("x") - col("mu")).as("x")))
  }

  /** Power-iteration rounds over an already-centered (id, i, x) table;
    * returns the unordered (i, v) milli direction. */
  private def powerIterDir(x: DataFrame, iters: Int): DataFrame = {
    var v = x.select(col("i")).distinct()
      .select(col("i"), lit(1000L).as("v"))
    for (_ <- 1 to iters) {
      val dots = x.join(broadcast(v), Seq("i"))
        .groupBy("id").agg(sum(expr("x * v")).as("dp"))
      val u = x.join(dots, Seq("id"))
        .groupBy("i").agg(sum(expr("x * dp")).as("u"))
      val next = Checkpoint(u.crossJoin(broadcast(u.agg(max(abs(col("u"))).as("m"))))
        .select(col("i"), expr("(u * 1000) div greatest(m, 1)").as("v")))
      Checkpoint.release(v)
      v = next
    }
    v
  }

  def powerIterationTopDir(emb: DataFrame, idCol: String, vecCol: String,
                           iters: Int): DataFrame = {
    val x = milliCentered(emb, idCol, vecCol)
    val v = powerIterDir(x, iters)
    if (iters > 0) Checkpoint.release(x) // v reads x lazily only when no round ran
    v.orderBy("i")
      .select(col("i").cast("long").as("dim"), col("v").as("v_milli"))
  }

  /** All-but-the-top retrieval (Mu & Viswanath, ICLR'18): center the
    * corpus, remove the top principal direction, THEN do cosine top-k.
    * Embedding matrices have a large shared component plus a dominant
    * anisotropic axis that together swamp raw cosine; [[centeredTopK]]
    * removes the first, this removes both — the standard post-processing
    * that lifts retrieval quality with no model change.
    *
    * Entirely in the integer milli domain of [[powerIterationTopDir]]
    * (whose direction this reuses): centered components x, direction v,
    * projection-removed component p = x − (x·v)·v div ‖v‖² with
    * truncating integer division — verified identical cross-engine on
    * negatives — so the de-biased matrix is exact in both engines, and
    * the final cosine runs on integer-valued doubles with the round-6
    * convention. Long range: |dp| ≤ d·|x|·|v| ≈ 1.3e8 at d=64, so
    * dp·v ≈ 1.3e11 — far inside Long at any embedding width that fits
    * a row.
    *
    * Scale shape: means, direction, and ‖v‖² broadcast; the corpus
    * appears only as the exploded (id, dim, x) table shuffled on its own
    * keys, and the rebuilt de-biased arrays flow straight into the same
    * TakeOrderedAndProject top-k as [[bruteForceTopK]]. */
  def abttTopK(emb: DataFrame, idCol: String, vecCol: String,
               queryId: Long, k: Int, iters: Int = 3): DataFrame = {
    // ONE shared centered table: the power iteration and the projection
    // removal both read the same checkpointed blocks (recomputing the
    // explode+center per consumer would triple the corpus scans)
    val c = milliCentered(emb, idCol, vecCol)
    val v = powerIterDir(c, iters)
    val n2 = v.agg(sum(expr("v * v")).as("n2"))
    val dps = c.join(broadcast(v), Seq("i"))
      .groupBy("id").agg(sum(expr("x * v")).as("dp"))
    val proj = c.join(dps, Seq("id")).join(broadcast(v), Seq("i"))
      .crossJoin(broadcast(n2))
      .select(col("id"), col("i"), expr("x - (dp * v) div n2").as("p"))
    val arrs = proj.groupBy("id")
      .agg(transform(
        array_sort(collect_list(struct(col("i").as("i"),
          col("p").cast("double").as("p")))),
        s => s.getField("p")).as("a"))
    val q = arrs.where(col("id") === queryId).select(col("a").as("qa"))
    arrs.crossJoin(broadcast(q))
      .select(col("id").as("vec_id"),
        round(cosineSim(col("a"), col("qa")), 6).as("similarity"))
      .orderBy(col("similarity").desc, col("vec_id"))
      .limit(k)
  }

  def randomProjection(emb: DataFrame, idCol: String, vecCol: String,
                       dIn: Int, dOut: Int, seed: String = "rp"): DataFrame = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val signs: Seq[Seq[Int]] = (0 until dOut).map { i =>
      (0 until dIn).map { j =>
        val h = md.digest(s"$seed${i}_$j".getBytes("UTF-8"))
        ((h(0) >> 4) & 0xf) match {
          case 0 => 1
          case 1 => -1
          case _ => 0
        }
      }
    }
    val v = col(vecCol).cast("array<double>")
    val projCols = signs.zipWithIndex.map { case (s, i) =>
      aggregate(
        zip_with(v, lit(s.toArray),
          (a, b) => round(a * 1000000L, 0).cast("long") * b),
        lit(0L), (acc, x) => acc + x).as(s"p$i")
    }
    emb.select((col(idCol) +: projCols): _*)
      .select(col(idCol),
        posexplode(array((0 until dOut).map(i => col(s"p$i")): _*)))
      .toDF(idCol, "proj_dim", "value_q")
  }

  /** MMR (maximal marginal relevance) diversity re-ranking — the RAG
    * second stage: greedily pick `k` of a bounded `poolSize` relevance
    * page, each pick maximizing
    * `lambda * sim(q, d) - (1 - lambda) * max over selected s of sim(d, s)`.
    *
    * Determinism: every similarity is produced by the SAME codegen'd
    * cosine expression as the pool scan, rounded to 6 decimals and
    * converted to integer micro-units, and lambda arrives in TENTHS — so
    * each pick compares pure integers (units of 1e-7), never floats, and
    * ties break on the id. The first pick's diversity term is 0.
    *
    * Scale shape: the pool comes from the distributed
    * [[bruteForceTopK]] (or any ANN path) and the pairwise pool sims from
    * a double-explode over ONE collected struct array (poolSize² tiny
    * rows, no join node); the greedy O(k·pool) runs on the driver over
    * the already-collected page — the industry reranker shape: second
    * stages run on the candidate page, never the corpus. */
  def mmrRerank(emb: DataFrame, idCol: String, vecCol: String,
                query: Seq[Double], poolSize: Int, k: Int,
                lambdaTenths: Int, exclude: Seq[Long] = Nil): DataFrame = {
    val spark = emb.sparkSession
    def micro(c: Column): Column = round(c * 1000000L, 0).cast("long")
    // poolSize rows, consumed twice
    val poolV = Checkpoint(bruteForceTopK(emb, idCol, vecCol, query, poolSize, exclude)
      .join(emb.select(col(idCol),
        col(vecCol).cast("array<double>").as("v")), Seq(idCol))
      .select(col(idCol).as("id"), micro(col("similarity")).as("qs"), col("v")))
    val qsMap = poolV.select("id", "qs").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val simMap = poolV
      .agg(collect_list(struct(col("id"), col("v"))).as("xs"))
      .select(explode(col("xs")).as("x"), col("xs"))
      .select(col("x"), explode(col("xs")).as("y"))
      .where(col("x.id") =!= col("y.id"))
      .select(col("x.id").as("ia"), col("y.id").as("ib"),
        micro(round(cosineSim(col("x.v"), col("y.v")), 6)).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val lam = lambdaTenths.toLong
    var selected = List.empty[Long]
    val remaining = scala.collection.mutable.TreeSet(qsMap.keys.toSeq: _*)
    val out = Seq.newBuilder[(Int, Long, Long)]
    for (r <- 1 to math.min(k, remaining.size)) {
      val (bid, bscore) = remaining.toSeq.map { id =>
        val maxs = if (selected.isEmpty) 0L
          else selected.map(s => simMap((id, s))).max
        (id, lam * qsMap(id) - (10L - lam) * maxs)
      }.minBy { case (id, sc) => (-sc, id) }
      out += ((r, bid, bscore))
      selected ::= bid
      remaining -= bid
    }
    import spark.implicits._
    out.result().toDF("rank", "vec_id", "score")
  }
}
