package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Checkpoint
import graft.functions.cosineSim
import graft.operators.Vectors

/** Persisted IVF vector index as STORAGE LAYOUT: one hive partition per
  * coarse cell. At 100 TB an ANN index is not an in-memory structure — it
  * is how the embedding table is laid out on disk. Writing each vector
  * into its nearest-centroid partition makes every probe a
  * partition-pruned scan: `WHERE cid IN (<nProbe cells>)` never opens the
  * other `nCentroids − nProbe` directories (PartitionFilters — asserted
  * in VectorStoreSpec), so query cost scales with nProbe/nCentroids of
  * the data, the same pruning fraction [[graft.operators.Vectors.ivfTopK]]
  * gets via its broadcast semi-join but enforced by the FILE LISTING, not
  * a runtime filter.
  *
  * Centroids are the same deterministic seeds as `ivfTopK`
  * (first-nCentroids by id), persisted next to the store so probing never
  * rescans the corpus; results hash-match the unpartitioned IVF oracle.
  */
object VectorStore {

  /** Resolve the ACTIVE data path of a (possibly versioned) store: the
    * `<path>.current` pointer names the live version directory after a
    * [[retrainIvf]]; a store that never retrained has no pointer and lives
    * at `path` itself (v0). The pointer is the store's ONE mutable piece of
    * state — every other artifact is written whole and then never edited,
    * so flipping the pointer is the retrain's commit point. */
  def resolve(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path + ".current")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // readRecovering promotes a complete `.current.new` survivor before
    // concluding "no pointer": on a FS without atomic overwrite-rename a
    // crash inside the pointer flip must not silently fall back to v0
    // (the retrain's new version directory is already complete when the
    // flip starts, so promoting the survivor is always safe)
    StoreIO.readRecovering(fs, p).map(_.trim).getOrElse(path)
  }

  /** Full retrain with store VERSIONING — FAISS's periodic from-scratch
    * recluster for a years-lived index whose distribution has drifted
    * GLOBALLY (cell-local skew is [[rebalanceIvf]]'s job;
    * [[graft.operators.Profile.driftReport]] is the documented trigger
    * signal for this one). Reads the current version once, retrains
    * `nCentroids` k-means centroids ([[Vectors.kmeansCentroids]] — same
    * deterministic trainer as a fresh [[writeIvf]], so version-N probes
    * are bit-identical to a fresh build's), writes a COMPLETE new version
    * (centroids + partitioned data) under `<path>.v<N>`, and only then
    * flips the `<path>.current` pointer. A crash anywhere before the flip
    * leaves the old version fully intact and the half-built directory
    * inert (the manifest's `retrain-begin` marker makes the attempt
    * detectable); nothing ever reads a partially-written version.
    * Returns the new version number. */
  def retrainIvf(spark: SparkSession, path: String, nCentroids: Int,
                 lloydIters: Int = 2): Int = {
    val cur = resolve(spark, path)
    val version =
      if (cur == path) 1
      else cur.substring(cur.lastIndexOf(".v") + 2).toInt + 1
    val newPath = s"$path.v$version"
    appendManifest(spark, path,
      Seq(s"""{"op":"retrain-begin","version":$version,"from":"$cur"}"""))
    val v = spark.read.parquet(cur).select(col("id"), col("v"))
    val centroids = Vectors.kmeansCentroids(v, nCentroids, lloydIters)
    centroids.write.mode("overwrite").parquet(newPath + ".centroids")
    Vectors.assignToCentroids(v, centroids)
      .write.mode("overwrite").partitionBy("cid").parquet(newPath)
    writePointer(spark, path, newPath) // the commit point
    appendManifest(spark, path, Seq(
      s"""{"op":"retrain","version":$version,"nCentroids":$nCentroids,"lloydIters":$lloydIters}"""))
    version
  }

  private def writePointer(spark: SparkSession, path: String,
                           target: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path + ".current")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // temp + rename, never truncate-in-place: the commit point must flip
    // or not — a crash mid-write must never leave an empty pointer that
    // loses WHICH version was live
    StoreIO.atomicWrite(fs, p, target)
  }

  /** One-time layout write: assign each vector to its nearest centroid and
    * partition the parquet by the cell id; centroids land beside it.
    * `lloydIters = 0` keeps the deterministic first-n-by-id seeds (the
    * `ivfTopK` contract); `lloydIters > 0` refines them with that many
    * unrolled Lloyd rounds ([[Vectors.kmeansCentroids]] — the
    * `ivfKmeansTopK` contract), which balances cell occupancy, so the
    * on-disk partition sizes track the data's cluster structure instead of
    * whichever vectors happened to carry the lowest ids. */
  def writeIvf(emb: DataFrame, idCol: String, vecCol: String,
               nCentroids: Int, path: String, lloydIters: Int = 0): Unit = {
    // a re-init is a FRESH v0: clear any stale version pointer a previous
    // life's retrain left behind, or every read/append would silently keep
    // targeting the old version directory
    val spark = emb.sparkSession
    val ptr = new org.apache.hadoop.fs.Path(path + ".current")
    val fs = ptr.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(ptr)) fs.delete(ptr, false)
    val vec = col(vecCol).cast("array<double>")
    val v = emb.select(col(idCol).as("id"), vec.as("v"))
    val centroids =
      if (lloydIters == 0)
        emb.orderBy(col(idCol)).limit(nCentroids)
          .select(col(idCol).as("cid"), vec.as("cv"))
      else Vectors.kmeansCentroids(v, nCentroids, lloydIters)
    centroids.write.mode("overwrite").parquet(path + ".centroids")
    Vectors.assignToCentroids(v, centroids)
      .write.mode("overwrite").partitionBy("cid").parquet(path)
  }

  /** Incremental maintenance — the piece that makes the layout viable at
    * 100 TB: new arrivals assign to the PERSISTED centroids (one broadcast
    * join over the batch only) and append into their cell partitions;
    * the corpus is never rescanned, the centroids never move (the
    * frozen-quantizer contract every production IVF store uses between
    * retrains — FAISS `add()` after `train()`), and dynamic partition
    * overwrite semantics are unnecessary because appends only ever add
    * files inside existing `cid=` directories. Probes see old and new
    * vectors identically, since assignment arithmetic is byte-for-byte
    * the write-path arithmetic. */
  def appendIvf(newRows: DataFrame, idCol: String, vecCol: String,
                path: String): Unit = {
    val spark = newRows.sparkSession
    val cur = resolve(spark, path)
    val centroids = spark.read.parquet(cur + ".centroids")
    Vectors.assignToCentroids(
        newRows.select(col(idCol).as("id"),
          col(vecCol).cast("array<double>").as("v")),
        centroids)
      .write.mode("append").partitionBy("cid").parquet(cur)
  }

  /** Rebalance — the retrain step the frozen-quantizer append contract
    * assumes exists (FAISS's `train()` between `add()` epochs): long-lived
    * appends skew cell occupancy, and a hot cell makes every probe that
    * touches it scan a disproportionate slice of the store. Any cell whose
    * occupancy exceeds `maxRatio` × the mean splits into two via a
    * deterministic in-cell 2-means (seeds = the cell's two lowest ids,
    * `lloydIters` rounds, the [[graft.operators.Vectors.kmeansCentroids]]
    * rounding conventions), rewriting ONLY the affected partitions
    * (dynamic partition overwrite — untouched cells' files are never
    * read or written), replacing the split cells' centroid rows, and
    * appending a manifest entry.
    *
    * Probe parity: the vector SET is unchanged and in-cell search is
    * exact, so a full probe (nProbe ≥ cells) returns bit-identical top-k
    * before and after; pruned probes see better-balanced partitions.
    * Returns the cids that split (empty = store already balanced). */
  def rebalanceIvf(spark: SparkSession, path: String,
                   maxRatio: Double = 2.0, lloydIters: Int = 2): Seq[Long] = {
    import org.apache.spark.sql.expressions.Window
    val cur = resolve(spark, path)
    val store = spark.read.parquet(cur)
      .select(col("id"), col("v"), col("cid").cast("long").as("cid"))
    // occupancy is O(cells) — a driver decision, like the probe list
    val sizes = store.groupBy("cid").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (sizes.isEmpty) return Nil
    val mean = sizes.values.sum.toDouble / sizes.size
    val oversized = sizes.filter { case (_, n) =>
      n > maxRatio * mean && n >= 2 }.keys.toSeq.sorted
    if (oversized.isEmpty) return Nil
    // scanned once per Lloyd round, cells-only
    val hot = Checkpoint(store.where(col("cid").isin(oversized: _*)))
    // in-cell 2-means: seeds are each cell's two lowest ids; every round
    // is one broadcast of the 2·|oversized| sub-centroids + one
    // (cid, sub, dim)-keyed rounded mean — never a corpus scan
    var cents2 = hot
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cid")).orderBy(col("id"))))
      .where(col("rn") <= 2)
      .select(col("cid"), (col("rn") - 1).cast("long").as("sub"),
        col("v").as("cv"))
    def assign(c: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("cid"), col("id"))
        .orderBy(col("csim").desc, col("sub"))
      hot.join(broadcast(c), Seq("cid"))
        .withColumn("csim", round(cosineSim(col("v"), col("cv")), 6))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("cid"), col("sub"), col("id"), col("v"))
    }
    for (_ <- 1 to lloydIters) {
      cents2 = assign(cents2)
        .select(col("cid"), col("sub"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy(col("cid"), col("sub"), col("i"))
        .agg(avg(col("x")).as("m"))
        .groupBy(col("cid"), col("sub"))
        .agg(transform(
          array_sort(collect_list(struct(col("i").as("i"),
            round(col("m"), 6).as("m")))),
          s => s.getField("m")).as("cv"))
    }
    val finalAssign = Checkpoint(assign(cents2))
    val finalCents = cents2.join(
        finalAssign.select(col("cid"), col("sub")).distinct(),
        Seq("cid", "sub"), "left_semi")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getSeq[Double](2))
      .toMap
    // sub 0 keeps the old cid; a NON-COLLAPSED sub 1 takes a fresh cid
    val existing = spark.read.parquet(cur + ".centroids")
      .select(col("cid").cast("long"), col("cv").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toSeq
    // a non-empty data dir with an empty .centroids sidecar is a corrupt
    // store — say so instead of dying on max() of an empty collection
    require(existing.nonEmpty,
      s"corrupt IVF store at $cur: data partitions exist but the " +
        ".centroids sidecar is empty")
    var nextCid = existing.map(_._1).max
    val newCidOf = oversized.flatMap { c =>
      // split only when BOTH halves kept members — a collapsed 2-means
      // (every vector on one side) leaves the cell as-is, so the old
      // partition is still among the rewritten ones (dynamic overwrite
      // must never leave a stale directory behind)
      if (finalCents.contains((c, 1L)) && finalCents.contains((c, 0L))) {
        nextCid += 1; Some(c -> nextCid)
      } else None
    }.toMap
    if (newCidOf.isEmpty) return Nil
    // recovery marker BEFORE the first mutation: a crash mid-op is
    // detectable as a begin with no matching completion entry
    appendManifest(spark, path, Seq(s"""{"op":"rebalance-begin","cids":[${
      newCidOf.keys.toSeq.sorted.mkString(",")}]}"""))
    // centroids FIRST, then data: a crash in between leaves the new cid in
    // the sidecar with no partition directory yet — probes read zero rows
    // there while every vector is still in its old partition (no vector is
    // ever invisible). The reverse order would strand the rewritten
    // partition behind a sidecar that doesn't list its cid.
    val kept = existing.filterNot { case (c, _) => newCidOf.contains(c) }
    val updated = kept ++
      newCidOf.keys.toSeq.sorted.map(c => c -> finalCents((c, 0L))) ++
      newCidOf.toSeq.sortBy(_._1).map { case (c, nc) => nc -> finalCents((c, 1L)) }
    overwriteViaRename(spark, cur + ".centroids",
      spark.createDataFrame(updated.map { case (c, v) => (c, v) })
        .toDF("cid", "cv"))
    val cidMapDf = broadcast(
      spark.createDataFrame(newCidOf.toSeq.sortBy(_._1)).toDF("cid", "newCid"))
    val rewritten = finalAssign.join(cidMapDf, Seq("cid"), "left")
      .select(col("id"), col("v"),
        when(col("sub") === 1 && col("newCid").isNotNull, col("newCid"))
          .otherwise(col("cid")).as("cid"))
    // dynamic overwrite touches exactly the partitions present in
    // `rewritten`: the split cells and their new halves — nothing else.
    // If the data job FAILS (not crashes — a live exception we can catch),
    // roll the centroids sidecar back to its pre-split state so pruned
    // probes keep their old ranking instead of ranking the still-whole hot
    // cell by its sub-0 half; the abort is marked in the manifest.
    val prevMode = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    // NonFatal only: a fatal JVM error (OOM, stack overflow) must not be
    // swallowed into further Spark write jobs — the sidecar stays at its
    // post-split state and the manifest's begin-without-completion marker
    // makes the attempt detectable. The rollback itself is guarded so a
    // rollback failure surfaces as SUPPRESSED on the original error
    // instead of replacing it.
    try rewritten.write.mode("overwrite").partitionBy("cid").parquet(cur)
    catch {
      case scala.util.control.NonFatal(e) =>
        try {
          overwriteViaRename(spark, cur + ".centroids",
            spark.createDataFrame(existing.map { case (c, v) => (c, v) })
              .toDF("cid", "cv"))
          appendManifest(spark, path,
            Seq("""{"op":"rebalance-abort","restored":"centroids"}"""))
        } catch {
          case scala.util.control.NonFatal(rb) => e.addSuppressed(rb)
        }
        throw e
    } finally prevMode match {
      case Some(m) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", m)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    appendManifest(spark, path, newCidOf.toSeq.sortBy(_._1).map { case (c, nc) =>
      s"""{"op":"rebalance","cid":$c,"into":[$c,$nc],"n":${sizes(c)}}""" })
    newCidOf.keys.toSeq.sorted
  }

  private def overwriteViaRename(spark: SparkSession, dir: String,
                                 df: DataFrame): Unit =
    StoreIO.overwriteViaRename(spark, dir, df)

  private def appendManifest(spark: SparkSession, path: String,
                             lines: Seq[String]): Unit =
    StoreIO.appendManifest(spark, path, lines)

  /** Probe: rank cells by centroid similarity (a ≤ nCentroids-row driver
    * decision — the probe list IS tiny by construction), read only those
    * partitions, exact top-k inside. */
  def probeIvf(spark: SparkSession, path: String, idCol: String,
               query: Seq[Double], k: Int, nProbe: Int): DataFrame = {
    val cur = resolve(spark, path)
    val q = lit(query.toArray)
    val probeCids = spark.read.parquet(cur + ".centroids")
      .withColumn("qsim", round(cosineSim(col("cv"), q), 6))
      .orderBy(col("qsim").desc, col("cid"))
      .limit(nProbe)
      .collect().map(_.getLong(0))
    spark.read.parquet(cur)
      .where(col("cid").isin(probeCids: _*))
      .withColumn("similarity", round(cosineSim(col("v"), q), 6))
      .orderBy(col("similarity").desc, col("id"))
      .limit(k)
      .select(col("id").as(idCol), col("similarity"))
  }
}
