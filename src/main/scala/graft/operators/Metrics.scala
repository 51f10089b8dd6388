package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Checkpoint

/** IR metric suite (SURVEY §2.5 A5; reference compute_metrics.py:3-64):
  * per-question precision / recall / F1 / hit@k / recall@k / MRR over
  * predicted vs gold id lists, macro-averaged. Pure array built-ins — one
  * narrow map over the rows, one tiny final aggregate.
  */
object Metrics {

  /** Per-row metric columns. `preds` is ranked (best first); `labels` gold.
    * Semantics match compute_metrics.py: precision/recall over the *set*
    * intersection; empty preds → precision 0; MRR = 1/rank of the first
    * gold item in preds, 0 if absent; hit@k = any gold in first k;
    * recall@k over first k. */
  def perRow(df: DataFrame, preds: Column, labels: Column,
             hitKs: Seq[Int] = Seq(1, 5), recallKs: Seq[Int] = Seq(20)): DataFrame = {
    val p = array_distinct(preds)
    val l = array_distinct(labels)
    val inter = size(array_intersect(p, l)).cast("double")
    val np = size(p).cast("double")
    val nl = size(l).cast("double")
    val precision = when(np > 0, inter / np).otherwise(lit(0.0))
    val recall = when(nl > 0, inter / nl).otherwise(lit(0.0))
    val f1 = when(precision + recall > 0,
      lit(2.0) * precision * recall / (precision + recall)).otherwise(lit(0.0))
    // first position (1-based) of any gold item in preds; 0 if none
    val positions = filter(transform(p, x => when(array_contains(l, x),
      array_position(p, x)).otherwise(lit(null))), x => x.isNotNull)
    val mrr = when(size(positions) > 0,
      lit(1.0) / array_min(positions).cast("double")).otherwise(lit(0.0))
    val hitCols = hitKs.map(k =>
      when(size(array_intersect(slice(p, 1, k), l)) > 0, lit(1.0)).otherwise(lit(0.0))
        .as(s"hit_$k"))
    val recallCols = recallKs.map(k =>
      when(nl > 0, size(array_intersect(slice(p, 1, k), l)).cast("double") / nl)
        .otherwise(lit(0.0)).as(s"recall_$k"))
    df.select(Seq(
      precision.as("precision"), recall.as("recall"), f1.as("f1"),
      mrr.as("mrr"), np.as("num_preds")) ++ hitCols ++ recallCols: _*)
  }

  /** Macro-averaged suite (compute_metrics.py:3-29 averages per-question). */
  def macroAvg(df: DataFrame, preds: Column, labels: Column,
               hitKs: Seq[Int] = Seq(1, 5), recallKs: Seq[Int] = Seq(20)): DataFrame = {
    val rows = perRow(df, preds, labels, hitKs, recallKs)
    val metricCols = Seq("precision", "recall", "f1", "mrr", "num_preds") ++
      hitKs.map(k => s"hit_$k") ++ recallKs.map(k => s"recall_$k")
    rows.agg(
      count(lit(1)).as("n_questions"),
      metricCols.map(m => round(avg(col(m)), 6).as(s"avg_$m")): _*)
  }

  /** Deterministic POISSON-bootstrap confidence intervals for the macro
    * precision/recall — the eval-rigor companion to [[macroAvg]]: a point
    * estimate alone cannot say whether a retrieval change is signal or
    * question-sampling noise. Each of the `b` resamples draws every
    * question's multiplicity independently from Poisson(1) — the
    * scalable bootstrap (Chamandy et al., "Estimating uncertainty for
    * massive data streams", ≈ the multinomial bootstrap for any
    * realistic n) — derandomized through the portable md5 hash of
    * (resample, qid), so both engines draw identical resamples. The
    * resample mean is Σ mult·metric div Σ mult and the CI is the
    * [⌊0.05b⌋+1, ⌈0.95b⌉] order statistics of the b means. Per-question
    * metrics are integer micro-units, multiplicities come from an
    * integer inverse-CDF threshold chain, and means are integer
    * divisions — every value is hash-exact cross-engine, and the
    * float-sum ordering problem of a naive bootstrap never arises.
    *
    * Scale shape — the reason for Poisson over index-resampling: no
    * global question index (a row_number window would collapse the set
    * to one partition — measured 16 s vs 2 s on the sf0.1 question set),
    * no draw→question join (the multiplicity is computed ON the question
    * row), just a narrow b-way fan-out and one map-side-combinable per-b
    * aggregate, embarrassingly parallel over the question set's natural
    * partitioning. The b-row resample table is eager-checkpointed once
    * for the four order-statistic probes. */
  def bootstrapCi(df: DataFrame, qid: Column, preds: Column, labels: Column,
                  b: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    val p = array_distinct(preds)
    val l = array_distinct(labels)
    val (per, nQuestions) = Checkpoint.counted(df.select(qid.as("qid"),
        size(array_intersect(p, l)).cast("long").as("inter"),
        size(p).cast("long").as("np"), size(l).cast("long").as("nl"))
      .select(col("qid"),
        expr("CASE WHEN np > 0 THEN (inter * 1000000) div np ELSE 0 END")
          .as("prec_micro"),
        expr("CASE WHEN nl > 0 THEN (inter * 1000000) div nl ELSE 0 END")
          .as("rec_micro")))
    if (nQuestions == 0) {
      // zero questions: 'tp div n_questions' would divide by zero and the
      // order-statistic probes would return no rows, collapsing the
      // crossJoins to an empty result — callers expect exactly one summary
      // row, so short-circuit to the all-zero one
      Checkpoint.release(per)
      return spark.range(1).select(
        lit(0L).as("n_questions"),
        lit(0L).as("mean_prec_micro"),
        lit(0L).as("lo_prec_micro"), lit(0L).as("hi_prec_micro"),
        lit(0L).as("mean_rec_micro"),
        lit(0L).as("lo_rec_micro"), lit(0L).as("hi_rec_micro"))
    }
    val bs = spark.range(b).select(col("id").as("b"))
    // Poisson(1) inverse CDF over the uniform micro hash: cumulative
    // e^-1 · Σ 1/k! in micro units, clamped at 7 (tail mass ≈ 8e-5)
    val mult =
      "CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1 " +
        "WHEN u < 919699 THEN 2 WHEN u < 981012 THEN 3 " +
        "WHEN u < 996340 THEN 4 WHEN u < 999406 THEN 5 " +
        "WHEN u < 999917 THEN 6 ELSE 7 END"
    val res = Checkpoint(per.crossJoin(broadcast(bs))
      .select(col("b"), col("prec_micro"), col("rec_micro"), expr(
        // translate == regexp_replace('[a-f]','') on md5 hex (identical
        // digits kept, r16 opt: no per-row regex over b×questions rows)
        "cast(substr(concat(translate(md5(concat('bs|', " +
          "cast(b as string), '|', cast(qid as string))), 'abcdef', ''), " +
          "'000000'), 1, 6) as bigint)").as("u"))
      .select(col("b"), col("prec_micro"), col("rec_micro"),
        expr(mult).cast("long").as("mult"))
      .groupBy("b")
      .agg(sum(expr("mult * prec_micro")).as("sp"),
        sum(expr("mult * rec_micro")).as("sr"),
        sum("mult").as("sm"))
      .select(col("b"),
        expr("sp div greatest(sm, 1)").as("mp"),
        expr("sr div greatest(sm, 1)").as("mr")))
    val loRank = b * 5 / 100 + 1
    val hiRank = (b * 95 + 99) / 100
    def stat(c: String, rank: Int, out: String): DataFrame =
      res.withColumn("r", row_number().over(Window.orderBy(col(c), col("b"))))
        .where(col("r") === rank).select(col(c).as(out))
    val point = per.agg(count(lit(1)).as("n_questions"),
      sum("prec_micro").as("tp"), sum("rec_micro").as("tr"))
      .select(col("n_questions"),
        expr("tp div n_questions").as("mean_prec_micro"),
        expr("tr div n_questions").as("mean_rec_micro"))
    point
      .crossJoin(broadcast(stat("mp", loRank, "lo_prec_micro")))
      .crossJoin(broadcast(stat("mp", hiRank, "hi_prec_micro")))
      .crossJoin(broadcast(stat("mr", loRank, "lo_rec_micro")))
      .crossJoin(broadcast(stat("mr", hiRank, "hi_rec_micro")))
      .select(col("n_questions"), col("mean_prec_micro"),
        col("lo_prec_micro"), col("hi_prec_micro"),
        col("mean_rec_micro"), col("lo_rec_micro"), col("hi_rec_micro"))
  }
}
