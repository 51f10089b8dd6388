package graft

class BenchSpec extends SparkSpec {
  test("the summary line stays short, counts failures and leaves them out of the total") {
    val medians = (0 until 334).map(i => f"entry_$i%03d" -> 1.25).toMap
      .updated("entry_007", -1.0)
    val line = Bench.summary(medians, cpus = 32, sfDir = "data/sf0.1", runs = 3)
    assert(line.getBytes("UTF-8").length < 200, line)
    assert(line ===
      """{"metric":"total","value":416.250,"unit":"sec","n":334,"failed":1,"cpus":32,"sf":"sf0.1","runs":3}""")
  }

  test("the timing protocol counts a throwing entry as failed, never timed, and leaves it out of the total") {
    val entries: Seq[(String, Bench.Entry)] = Seq(
      "ok" -> ((s, _) => s.range(10).toDF()),
      "boom" -> ((_, _) => throw new IllegalStateException("boom")))
    val loaded = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val t = Bench.time(spark, "unused", entries, runs = 2, loaded)
    assert(t.failures === Map("boom" -> 2))
    assert(!t.runs.contains("boom"))
    assert(t.runs("ok").length === 2)
    assert(t.median("boom") === -1.0)
    val line = Bench.summary(Map("ok" -> 0.5, "boom" -> t.median("boom")), 4, "sf0.01", 2)
    assert(line.contains(""""value":0.500""") && line.contains(""""failed":1"""), line)
  }

  test("release after each run frees the entry's blocks and keeps the LOAD snapshot") {
    val pinned = spark.range(3).rdd.persist()
    pinned.count()
    val loaded = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val inEntry = collection.mutable.Set[Int]()
    val entries: Seq[(String, Bench.Entry)] = Seq("checkpointed" -> { (s, _) =>
      val df = s.range(20).toDF("id").localCheckpoint()
      inEntry ++= s.sparkContext.getPersistentRDDs.keySet.diff(loaded)
      df
    })
    Bench.time(spark, "unused", entries, runs = 1, loaded)
    val after = spark.sparkContext.getPersistentRDDs.keySet.toSet
    assert(inEntry.nonEmpty)
    assert(after.intersect(inEntry) === Set.empty[Int])
    assert(after.contains(pinned.id))
    pinned.unpersist(blocking = true)
  }

  test("finalPlan executes the count plan and returns its final adaptive form") {
    val plan = Bench.finalPlan(spark.range(100).repartition(3).toDF())
    assert(plan.contains("isFinalPlan=true"), plan)
  }
}
