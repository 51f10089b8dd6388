package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Checkpoint

/** Ingest-time data profiling (ANALYZE-style): per-column row/null/distinct
  * counts and min/max, computed in ONE pass over the table — all per-column
  * aggregates live in a single aggregate node (Catalyst plans the multiple
  * exact count-distincts via Expand), and the wide result row is unpivoted
  * to one row per column with a single explode. min/max render as strings
  * so heterogeneous column types share one output schema.
  */
object Profile {

  /** Hierarchical ROLLUP profile over two dimensions: per-(c1, c2) rows,
    * per-c1 subtotals, and the grand total in ONE pass (Spark plans rollup
    * as a single Expand + aggregate — no re-scan per level). `gid` is the
    * standard grouping bitmask (c1 = MSB), 0 = leaf, 3 = grand total. */
  def rollupProfile(df: DataFrame, c1: String, c2: String,
                    measure: String): DataFrame =
    df.rollup(c1, c2)
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n_rows"),
        round(sum(measure), 2).as("sum_measure"))

  /** Two-sample distribution-drift report between a REFERENCE corpus
    * snapshot and a CURRENT one over a caller-supplied non-negative bin
    * expression — the ingest-gate check a daily training-data pipeline
    * runs before admitting a new crawl ("did the quantity/length/score
    * distribution move?").
    *
    * Per bin: counts on both sides, the L1 contribution
    * `round(10⁶·|n_ref/T_ref − n_cur/T_cur|)` and the two-sample χ²
    * contribution `round(10⁶·(n_ref·T_cur − n_cur·T_ref)² /
    * (T_ref·T_cur·(n_ref+n_cur)))`, both as INTEGER micro-units; a
    * `bin = -1` rollup row carries the integer SUMS (total variation
    * distance = l1_micro/2; χ² = chi2_micro total). Engine-portable by
    * construction: every sum is over integers (order-independent) and the
    * only float ops are IEEE-exactly-rounded ×/÷ on integer-valued
    * doubles — no ln/exp, whose libm rounding differs across engines
    * (same reason [[Curation]]'s classifier avoids exp).
    *
    * Scale shape: two narrow scans → one union → one groupBy(bin) whose
    * map-side partial aggregation reduces each task to O(bins) rows;
    * the totals join is a broadcast of one O(bins) aggregate. Nothing
    * downstream of the first shuffle exceeds O(bins). */
  def driftReport(ref: DataFrame, cur: DataFrame, binCol: Column): DataFrame = {
    val tagged = ref.select(binCol.cast("long").as("bin"), lit(0).as("side"))
      .unionAll(cur.select(binCol.cast("long").as("bin"), lit(1).as("side")))
    binMetrics(tagged.groupBy("bin").agg(
      sum(when(col("side") === 0, 1L).otherwise(0L)).as("n_ref"),
      sum(when(col("side") === 1, 1L).otherwise(0L)).as("n_cur")))
  }

  /** Shared tail of [[driftReport]] and [[foldDriftSnapshot]]: per-bin
    * micro-unit metrics over a (bin, n_ref, n_cur) frame + the bin = -1
    * rollup. Totals come from an unpartitioned window over the O(bins)
    * input — never a second corpus aggregate — and the per-bin frame is
    * materialized once (the graph algorithms' adjacency-checkpoint
    * pattern) so the rollup branch reads it instead of re-executing the
    * upstream scan. */
  private def binMetrics(counts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val d = col("n_ref") * col("t_cur") - col("n_cur") * col("t_ref")
    // an EMPTY side makes the distance undefined (0/0) — surface that as
    // NULL, never as a misleading "no drift" zero
    val defined = col("t_ref") > 0 && col("t_cur") > 0
    val perBin = Checkpoint(counts
      .withColumn("t_ref", sum("n_ref").over(w))
      .withColumn("t_cur", sum("n_cur").over(w))
      .select(col("bin"), col("n_ref"), col("n_cur"),
        when(defined, round(lit(1000000.0) * abs(
          col("n_ref").cast("double") / col("t_ref") -
            col("n_cur").cast("double") / col("t_cur"))).cast("long"))
          .as("l1_micro"),
        when(defined, round(lit(1000000.0) * d.cast("double") * d.cast("double") /
          (col("t_ref").cast("double") * col("t_cur") *
            (col("n_ref") + col("n_cur")))).cast("long"))
          .as("chi2_micro")))
    val rollup = perBin.agg(
      sum("n_ref").as("n_ref"), sum("n_cur").as("n_cur"),
      sum("l1_micro").as("l1_micro"), sum("chi2_micro").as("chi2_micro"))
      .select(lit(-1L).as("bin"), col("n_ref"), col("n_cur"),
        col("l1_micro"), col("chi2_micro"))
    perBin.unionByName(rollup).orderBy("bin")
  }

  /** Reference-side artifact for [[streamingDrift]]: per-bin counts plus
    * the (replicated) reference total — computed ONCE over the reference
    * corpus and persisted/broadcast, exactly like the dedup family's band
    * indexes. */
  def referenceHistogram(ref: DataFrame, binCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    ref.select(binCol.cast("long").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n_ref"))
      .withColumn("t_ref", sum("n_ref").over(w))
  }

  /** The STREAMING form of [[driftReport]]: one streaming groupBy(bin)
    * over the live feed (complete output mode — state is O(bins) rows,
    * bounded by construction) enriched with the precomputed
    * [[referenceHistogram]] by a broadcast stream-static left join. Each
    * trigger re-emits the full per-bin snapshot `(bin, n_cur, n_ref,
    * t_ref)`; the reader folds the TINY snapshot into t_cur and the
    * micro-unit L1/χ² of [[driftReport]] (windows and chained aggregates
    * are unsupported on streams, and the fold is O(bins) anyway), adding
    * any reference-only bins from the histogram — the ingest gate that
    * flags a drifting crawl WHILE it lands. [[foldDriftSnapshot]] is that
    * reader-side fold, shared with the spec. */
  def streamingDrift(refHist: DataFrame, stream: DataFrame,
                     binCol: Column): DataFrame =
    stream.select(binCol.cast("long").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n_cur"))
      .join(broadcast(refHist), Seq("bin"), "left")
      .na.fill(0L, Seq("n_ref"))

  /** Reader-side fold of a [[streamingDrift]] snapshot: restores
    * reference-only bins from the histogram, then computes exactly
    * [[driftReport]]'s per-bin micro-units + the bin = -1 rollup. Input
    * and output are O(bins) — this runs on the sink table, per trigger. */
  def foldDriftSnapshot(snapshot: DataFrame, refHist: DataFrame): DataFrame =
    binMetrics(snapshot.select(col("bin"), col("n_ref"), col("n_cur"))
      .unionByName(refHist.join(snapshot.select("bin"), Seq("bin"),
          "left_anti")
        .select(col("bin"), col("n_ref"), lit(0L).as("n_cur"))))

  def tableProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap(c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__${c}_nulls"),
      count_distinct(col(c)).as(s"__${c}_ndv"),
      min(col(c)).cast("string").as(s"__${c}_min"),
      max(col(c)).cast("string").as(s"__${c}_max"))) :+
      count(lit(1)).as("__n")
    val wide = df.agg(aggs.head, aggs.tail: _*)
    wide.select(explode(array(cols.map(c => struct(
        lit(c).as("column"),
        col("__n").as("n_rows"),
        col(s"__${c}_nulls").as("n_nulls"),
        col(s"__${c}_ndv").as("n_distinct"),
        col(s"__${c}_min").as("min_val"),
        col(s"__${c}_max").as("max_val"))): _*)).as("p"))
      .select("p.*")
  }

  /** Declarative data-quality gate (the Deequ/Great-Expectations shape):
    * each rule is a name plus a VIOLATION-counting DataFrame; the report
    * is one row per rule with its violation count and pass flag — the
    * artifact a pipeline checks before promoting a batch. Rules run as
    * independent aggregates (each its own narrow scan or join), unioned
    * into one report; nothing is collected until the rule results, which
    * are one row each. */
  def checkReport(rules: Seq[(String, DataFrame)]): DataFrame =
    rules.map { case (name, violations) =>
      violations.agg(count(lit(1)).as("n_violations"))
        .select(lit(name).as("rule"), col("n_violations"),
          (col("n_violations") === 0L).as("passed"))
    }.reduce(_ unionByName _)

  /** Gaps-and-islands profile over each key's integer sequence — the
    * continuity audit for id ranges, event counters, and ingest batch
    * numbers (a sudden island count spike means data loss upstream).
    * Islands via the classic Tabibitosan pattern: value − row_number is
    * constant exactly within a maximal consecutive run, so islands are
    * one keyed window + one distinct count — no self-join; gaps from the
    * lag difference in the same window pass. The report is the
    * cross-key rollup: key count, total islands, the worst key's island
    * count, and the largest single gap.
    *
    * Scale: one shuffle on the key; both windows share the (key, value)
    * sort so Catalyst runs them in a single Window operator. */
  def gapIslands(df: DataFrame, keyCol: String, seqCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("k").orderBy("v")
    val vals = df.select(col(keyCol).as("k"), col(seqCol).as("v")).distinct()
      .withColumn("grp", col("v") - row_number().over(w))
      .withColumn("gap", col("v") - lag(col("v"), 1).over(w) - 1)
    val perKey = vals.groupBy("k")
      .agg(count(lit(1)).as("n_vals"),
        count_distinct(col("grp")).as("n_islands"),
        max(coalesce(col("gap"), lit(0L))).as("max_gap"))
    perKey.agg(count(lit(1)).as("n_keys"),
      sum("n_islands").as("n_islands_total"),
      max("n_islands").as("max_islands_per_key"),
      max("max_gap").as("max_gap"))
  }

  /** Pairwise Pearson correlation over integer-quantized measure columns
    * — the ANALYZE-style dependency scan (redundant-measure detection,
    * join-estimate sanity) next to [[tableProfile]]. ALL first and second
    * moments for every pair accumulate in ONE aggregate pass over the
    * table (map-side combinable Long sums — callers quantize so Σx² stays
    * inside Long; the sums surface in the output as the hash-exact part);
    * the r computation then runs on the single moment row, cast to DOUBLE
    * BEFORE the n·Σxy products (which overflow Long by design) with the
    * expression tree mirrored verbatim in the oracle — IEEE-identical
    * cross-engine, rounded to 6. Zero-variance columns yield NULL r (the
    * sqrt of 0 divides), not an error. */
  def corrPairs(df: DataFrame, measures: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    val firsts = measures.map { case (n, c) => sum(c).as(s"s_$n") }
    val seconds = measures.map { case (n, c) => sum(c * c).as(s"ss_$n") }
    val pairs = for {
      (a, ca) <- measures; (b, cb) <- measures if a < b
    } yield (a, b, sum(ca * cb).as(s"sp_${a}_$b"))
    val aggs = (firsts ++ seconds ++ pairs.map(_._3)) :+
      count(lit(1)).as("n")
    val m = df.agg(aggs.head, aggs.tail: _*)
    pairs.map { case (a, b, _) =>
      val r = s"round((cast(n as double) * cast(sp_${a}_$b as double)" +
        s" - cast(s_$a as double) * cast(s_$b as double))" +
        s" / nullif(sqrt(cast(n as double) * cast(ss_$a as double)" +
        s" - cast(s_$a as double) * cast(s_$a as double))" +
        s" * sqrt(cast(n as double) * cast(ss_$b as double)" +
        s" - cast(s_$b as double) * cast(s_$b as double)), 0), 6)"
      m.select(lit(s"${a}_$b").as("pair"), col("n"),
        col(s"s_$a").as("sx"), col(s"s_$b").as("sy"),
        col(s"sp_${a}_$b").as("sxy"), expr(r).as("r"))
    }.reduce(_ unionByName _)
  }
}
