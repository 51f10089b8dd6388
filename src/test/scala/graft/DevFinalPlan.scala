package graft

/** Dev harness: execute one catalog query and print the POST-execution
  * adaptive plan — the only place AQE runtime artifacts (ReusedExchange /
  * reused ShuffleQueryStage ids, runtime join switches) are visible;
  * `explain` before execution shows isFinalPlan=false without them. */
object DevFinalPlan {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Sessions.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Queries.warmBucketed(spark, sfDir)
    val df = SparkEntry.queries(name)(spark, sfDir)
    // Bench's action: count() runs exactly this global-count plan, so
    // executing it here dumps the plan the bench times
    val counted = df.groupBy().count()
    val n = counted.collect()(0).getLong(0)
    println(s"[finalplan] $name rows=$n")
    println(counted.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode))
  }
}
