package graft

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{count, lit}

/** The one owner of intra-query materialization. Every checkpoint in
  * `src/main` goes through here, in one mode: an eager `localCheckpoint`,
  * so the frame's blocks exist when the call returns. A loop reads its
  * stop signal off that same checkpoint job ([[observed]], [[counted]]),
  * never from a second probe job, and once a round's successor is
  * materialized it [[release]]s the replaced round — the GraphX Pregel
  * rule (materialize each iteration, then unpersist the one it replaced).
  * A frame that a result or a later round still reads lazily is kept;
  * `Bench.release` frees what a query's result keeps once its action has
  * run. */
private[graft] object Checkpoint {

  /** Eagerly localCheckpoint `df`. */
  def apply(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** Eagerly localCheckpoint `df` and read `metrics` (named aggregates)
    * off that same checkpoint job through `Dataset.observe`: a loop's
    * stop signal costs no second `isEmpty`/`count`/`collect` job. */
  def observed(df: DataFrame, metrics: Column*): (DataFrame, Map[String, Any]) = {
    val obs = Observation()
    val cp = apply(df.observe(obs, metrics.head, metrics.tail: _*))
    (cp, obs.get)
  }

  /** [[observed]] for a loop whose stop signal is the row count. */
  def counted(df: DataFrame): (DataFrame, Long) = {
    val (cp, m) = observed(df, count(lit(1)).as("rows"))
    (cp, m("rows").asInstanceOf[Long])
  }

  /** Drop checkpointed frames' blocks (a no-op for any other frame). */
  def release(dfs: DataFrame*): Unit = dfs.foreach(_.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ =>
  })
}
