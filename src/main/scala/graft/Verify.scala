package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: `--quick` selects the §2-critical inner-loop
    // tier (Queries.quick); otherwise a comma-separated query-name filter
    // for the single-query dev loop (oracle_sql.json still carries every
    // entry; tools/check.py reports missing dirs, which is expected then)
    val only: Set[String] =
      if (args.length > 2 && args(2) == "--quick") Queries.quick
      else if (args.length > 2) args(2).split(",").toSet
      else Set.empty
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // the graph half of Bench's LOAD stage, so the snapshot separates
    // long-lived graph caches from per-query checkpoint blocks —
    // freeing the latter at query end keeps the JVM's memory flat across
    // the dump. The layouts are left to the entries that read them, so a
    // failing layout write fails only those entries, inside their try.
    val loaded = Bench.loadGraph(spark, sfDir)
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only.isEmpty || only(name)) {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        Bench.release(spark, loaded)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
