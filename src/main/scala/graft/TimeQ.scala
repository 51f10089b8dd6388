package graft

/** Dev-loop timing harness: times a NAMED subset of the catalog with
  * Bench's own functions ([[Bench.load]], [[Bench.time]]: same LOAD stage,
  * count() action, release + quiesce, interleaved runs, outlier
  * confirmation, median reported) so a before/after on one query does not
  * cost a full 334-entry pass. Optionally writes each query's
  * post-execution AQE plan ([[Bench.finalPlan]], untimed) to a directory.
  *
  * Usage: runMain graft.TimeQ <runs> <name>[,<name>…] [planOutDir]
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
    val loaded = Bench.load(spark, sfDir)
    val entries = names.map(n => n -> SparkEntry.queries(n))
    val timings = Bench.time(spark, sfDir, entries, runs, loaded)
    entries.foreach { case (name, _) =>
      val ts = timings.runs.getOrElse(name, Nil).sorted
      val failed = timings.failures.getOrElse(name, 0)
      println(f"TIMEQ $name%-32s median=${timings.median(name)}%7.3f  failed=$failed  all=${ts.map(t => f"$t%.3f").mkString(",")}")
    }
    planDir.foreach { dir =>
      new java.io.File(dir).mkdirs()
      entries.foreach { case (name, fn) =>
        try java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/$name.txt"),
          Bench.finalPlan(fn(spark, sfDir)).getBytes("UTF-8"))
        catch { case e: Throwable =>
          System.err.println(s"[timeq] $name plan failed: ${e.getMessage}")
        }
        Bench.release(spark, loaded)
      }
    }
    spark.stop()
  }
}
