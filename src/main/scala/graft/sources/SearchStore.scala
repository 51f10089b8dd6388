package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Checkpoint
import graft.operators.Search

/** Persisted inverted index as STORAGE LAYOUT: postings hive-partitioned
  * by a term-hash bucket. At 100 TB the index is not a service — it is how
  * the posting table sits on disk. A query's terms map to a handful of
  * buckets, so the probe is a partition-pruned scan (`PartitionFilters` on
  * the listing — asserted in SearchStoreSpec) that never opens the other
  * `nBuckets − |terms|` directories; document frequencies and the corpus
  * size persist as sidecars, so probing rescans nothing.
  *
  * The bucket hash is the catalog's portable digit-only-MD5 (same family
  * as the sketch/KMV hashes) with a driver-side twin, so the probe can
  * compute its bucket list without touching the store.
  */
object SearchStore {

  /** Engine-side bucket of the `term` column. */
  private def bucketCol(nBuckets: Int): Column =
    expr("cast(substr(concat(translate(md5(term), 'abcdef', ''), " +
      s"'000000'), 1, 6) as bigint) % $nBuckets")

  /** Driver-side twin of [[bucketCol]] for literal query terms. */
  def bucketOf(term: String, nBuckets: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(term.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
    (hex.replaceAll("[a-f]", "") + "000000").take(6).toLong % nBuckets
  }

  /** One-time layout write: postings into bucket partitions, document
    * frequencies and corpus size beside them. */
  def write(docs: DataFrame, path: String, nBuckets: Int): Unit = {
    val p = Search.postings(docs).withColumn("bucket", bucketCol(nBuckets))
    p.write.mode("overwrite").partitionBy("bucket").parquet(path)
    p.groupBy("term").agg(count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(path + ".df")
    docs.agg(count(lit(1)).as("n_docs"))
      .write.mode("overwrite").parquet(path + ".n")
  }

  /** Incremental ingest — the lexical twin of
    * [[VectorStore.appendIvf]]: NEW documents' postings append into the
    * same bucket partitions and the df / corpus-size sidecars merge the
    * increments. The indexed corpus is never rescanned: the posting
    * append writes only the new docs' rows, and the sidecar merges run
    * over O(vocab) sidecar rows plus the new postings. Doc ids must be
    * new (the store has no upsert — same contract as the IVF append). */
  def append(newDocs: DataFrame, path: String, nBuckets: Int): Unit = {
    val spark = newDocs.sparkSession
    // recovery marker first: a crash mid-append is detectable as a begin
    // with no completion; each sidecar then swaps whole via rename, never
    // an in-place overwrite (StoreIO)
    StoreIO.appendManifest(spark, path, Seq("""{"op":"append-begin"}"""))
    // one pass over the new docs, reused below
    val p = Checkpoint(Search.postings(newDocs).withColumn("bucket", bucketCol(nBuckets)))
    p.write.mode("append").partitionBy("bucket").parquet(path)
    // materialize before overwriting the input
    val mergedDf = Checkpoint(spark.read.parquet(path + ".df")
      .unionByName(p.groupBy("term").agg(count(lit(1)).as("df")))
      .groupBy("term").agg(sum("df").as("df")))
    StoreIO.overwriteViaRename(spark, path + ".df", mergedDf)
    val mergedN = Checkpoint(spark.read.parquet(path + ".n")
      .unionByName(newDocs.agg(count(lit(1)).as("n_docs")))
      .agg(sum("n_docs").as("n_docs")))
    StoreIO.overwriteViaRename(spark, path + ".n", mergedN)
    StoreIO.appendManifest(spark, path, Seq("""{"op":"append"}"""))
  }

  /** Ranked TF-IDF probe against the persisted layout — scoring identical
    * to [[Search.tfidfTopK]], I/O limited to the query terms' buckets. */
  def probeTfidf(spark: SparkSession, path: String, terms: Seq[String],
                 nBuckets: Int, k: Int): DataFrame = {
    val buckets = terms.map(bucketOf(_, nBuckets)).distinct
    val qp = spark.read.parquet(path)
      .where(col("bucket").isin(buckets: _*) && col("term").isin(terms: _*))
    val dfreq = spark.read.parquet(path + ".df")
      .where(col("term").isin(terms: _*))
    val n = spark.read.parquet(path + ".n")
    qp.join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("contrib", expr("(tf * 1000000 * n_docs) div df"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum("contrib").as("score_micro"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(k)
  }
}
