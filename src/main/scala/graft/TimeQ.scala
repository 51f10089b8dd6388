package graft
import org.apache.spark.sql.SparkSession

/** Dev-loop timing harness (round-16 optimization work): times a NAMED
  * subset of the catalog with the exact Bench methodology (same LOAD-stage
  * warmup, same count() action, same per-query RDD cleanup + quiesce,
  * interleaved runs, median reported) so a before/after on one query does
  * not cost a full 334-entry pass. Optionally dumps each query's
  * `.explain("formatted")` to a directory.
  *
  * Usage: runMain graft.TimeQ <runs> <name>[,<name>…] [planOutDir]
  * Bench itself is untouched — this is tooling, not the driver contract.
  */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val runs = args(0).toInt
    val names = args(1).split(",").toSeq
    val planDir = if (args.length > 2) Some(args(2)) else None
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("md5(cast(id as string)) m")
      .groupBy("m").count().count()
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1).count()
    val g = graft.graph.TpchGraph(spark, sfDir)
    g.nodes.count(); g.rels.count()
    g.adjPairs.count(); g.bidirTriples.count(); g.nodeCount
    graft.graph.GraphXBridge.materialize(spark, g)
    Queries.warmBucketed(spark, sfDir)
    Queries.warmZorder(spark, sfDir)
    Queries.warmPartitioned(spark, sfDir)
    Queries.warmTar(spark, sfDir)
    Queries.warmIvfStore(spark, sfDir)
    Queries.warmSearchStore(spark, sfDir)
    val entries = names.map(n => n -> SparkEntry.queries(n))
    planDir.foreach { dir =>
      new java.io.File(dir).mkdirs()
      entries.foreach { case (name, fn) =>
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$dir/$name.txt"),
          plan.getBytes("UTF-8"))
      }
    }
    val loadRdds = spark.sparkContext.getPersistentRDDs.keySet.toSet
    def dropQueryRdds(): Unit =
      for ((id, rdd) <- spark.sparkContext.getPersistentRDDs
           if !loadRdds.contains(id)) rdd.unpersist(blocking = true)
    // a failed run is counted, never timed (Bench.timeOnce's rule): its
    // elapsed time measures the failure, not the query
    val timings = collection.mutable.Map[String, List[Double]]()
    val failures = collection.mutable.Map[String, Int]().withDefaultValue(0)
    for (_ <- 1 to runs; (name, fn) <- entries) {
      System.gc(); Thread.sleep(150)
      spark.sparkContext.setJobDescription(s"timeq: $name")
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).count()
        timings(name) = (System.nanoTime() - t0) / 1e9 :: timings.getOrElse(name, Nil)
      } catch { case e: Throwable =>
        System.err.println(s"[timeq] $name failed: ${e.getMessage}")
        failures(name) += 1
      }
      spark.sparkContext.setJobDescription(null)
      dropQueryRdds()
    }
    entries.foreach { case (name, _) =>
      val ts = timings.getOrElse(name, Nil).sorted
      val med = if (ts.isEmpty) -1.0 else ts(ts.length / 2)
      println(f"TIMEQ $name%-32s median=$med%7.3f  failed=${failures(name)}  all=${ts.map(t => f"$t%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
