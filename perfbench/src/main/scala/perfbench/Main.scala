package perfbench

import java.io.File
import scala.collection.mutable
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.{ClassTagExtensions, DefaultScalaModule}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.{Sessions, SparkEntry}
import graft.graph.{PropertyGraph, TpchGraph}
import graft.operators.Metrics
import graft.pipeline.{GraphRaft, TrainingData}

final case class Mention(label: String, mention: String)
final case class Question(id: Long, template: String, question: String,
                          mentions: Array[Mention], entities: Array[String],
                          gold: Array[Long], fallback: Map[String, Array[Double]],
                          q_emb: Array[Double])

/** One benchmark run in one JVM with one client thread: session start and
  * LOAD, an untimed warm-up on `qa_online`, then a closed
  * loop of the workload's requests. Writes everything it measured and every
  * output the checks need as one JSON document; the caller checks the
  * outputs and turns the record into metrics.
  *
  * {{{
  * perfbench.Main --workload qa_online|offline_batch --data <dir>
  *   --questions <json> --seconds <s> --trace 0|1
  *   --scratch <dir> --out <json>
  * }}}
  */
object Main {
  val GraphEntries = Seq("graph_bfs_dist", "graph_scc_bounded", "graph_fwbw")
  /** Questions every `qa_online` run times, however long they take. */
  val MinMeasured = 3

  private val json = {
    val m = new ObjectMapper() with ClassTagExtensions
    m.registerModule(DefaultScalaModule)
    m.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
    m
  }

  private def since(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val dataDir = opt("data")
    val questions = json.readValue[Array[Question]](new File(opt("questions"))).toSeq
    val out = mutable.LinkedHashMap[String, Any]("workload" -> workload)

    val t0 = System.nanoTime()
    val spark = Sessions.builder("local[4]", 4)
      .config("spark.local.dir", opt("scratch"))
      .config("spark.sql.warehouse.dir", s"${opt("scratch")}/warehouse")
      .getOrCreate()
    val sessionMs = since(t0)
    val tracer = new Tracer(spark, opt("trace") == "1")
    try {
      val (g, loadMs) = setUp(spark, tracer, dataDir, withAdjacency = workload == "offline_batch")
      val setUpBlocks = storage(spark)
      out ++= Seq("session_ms" -> sessionMs, "load_ms" -> loadMs,
        "load_cached_bytes" -> setUpBlocks.values.sum)
      val body = workload match {
        case "qa_online" => new QaOnline(g, tracer).run(questions, opt("seconds").toDouble)
        case "offline_batch" =>
          new OfflineBatch(spark, g, dataDir, tracer).run(questions, opt("trace") == "1")
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      out ++= body
      out("retained_bytes") = storage(spark).collect {
        case (id, bytes) if !setUpBlocks.contains(id) => bytes }.sum
      out("spans") = tracer.spans
    } finally spark.stop()
    json.writeValue(new File(opt("out")), out)
  }

  /** Session-level LOAD: the TPC-H graph built through `TpchGraph.apply`,
    * whose per-directory cache the catalog entries read, and counted, plus
    * the adjacency view when the workload needs it. */
  private def setUp(spark: SparkSession, tracer: Tracer, dir: String,
                    withAdjacency: Boolean): (PropertyGraph, Double) = {
    val t0 = System.nanoTime()
    val g = tracer.span("TpchGraph.load") {
      val g = TpchGraph(spark, dir)
      g.nodes.count(); g.rels.count()
      g
    }
    if (withAdjacency) tracer.span("PropertyGraph.adjPairs")(g.adjPairs.count())
    (g, since(t0))
  }

  /** Bytes held by each persisted RDD, memory plus disk. */
  def storage(spark: SparkSession): Map[Int, Long] =
    spark.sparkContext.getRDDStorageInfo.map(i => i.id -> (i.memSize + i.diskSize)).toMap

  /** A request that threw: counted as failed, never timed. */
  def failure(e: Throwable): Map[String, Any] =
    Map("ok" -> false, "error" -> s"${e.getClass.getName}: ${e.getMessage}".take(2000))

  def plain(v: Any): Any = v match {
    case r: Row => r.toSeq.map(plain)
    case s: scala.collection.Seq[_] => s.map(plain)
    case other => other
  }

  def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(r => r.toSeq.map(plain))

  /** One question at a time through the public stages of `GraphRaft.run`,
    * in inference mode. */
  final class QaOnline(g: PropertyGraph, tracer: Tracer) {
    private object Encoder extends GraphRaft.MentionEncoder {
      var fallback: Map[String, Array[Double]] = Map.empty
      var calls = 0
      def encode(s: String): Seq[Double] = {
        calls += 1
        fallback.get(s).map(_.toSeq).getOrElse(Seq.fill(64)(0.125))
      }
    }

    def answer(q: Question): Map[String, Any] = {
      tracer.request = s"question ${q.id}"
      Encoder.fallback = q.fallback
      Encoder.calls = 0
      val t0 = System.nanoTime()
      try {
        val mentions = q.mentions.toSeq.map(m => (m.label, m.mention))
        val src = tracer.span("GraphRaft.matchEntities")(
          GraphRaft.matchEntities(g, mentions, Encoder))
        val candidates = tracer.span("GraphRaft.enumerateCandidates")(
          GraphRaft.enumerateCandidates(g, src))
        val top = GraphRaft.HeuristicRanker.rank(candidates, 5)
        val got = tracer.span("GraphRaft.retrieveData")(
          GraphRaft.retrieveData(g, top.map(_.cypher), q.q_emb.toSeq, maxNodes = 20).collect())
        val retrieved = got.toSeq.map(r => GraphRaft.Retrieved(r.getAs[Long]("nodeId"),
          r.getAs[String]("name"), r.getAs[Double]("similarity"),
          r.getSeq[String](r.fieldIndex("patterns"))))
        val answers = GraphRaft.RetrievalAnswerer.answer(q.question, retrieved)
        val ms = since(t0)
        Map("ok" -> true, "ms" -> ms, "id" -> q.id, "resolved" -> src,
          "mentions" -> mentions.size, "fallbacks" -> Encoder.calls,
          "candidates" -> candidates.size, "top" -> top.map(_.cypher),
          "retrieved" -> got.toSeq.map(r => Map("nodeId" -> r.getAs[Long]("nodeId"),
            "rank" -> r.getAs[Long]("rank"),
            "patterns" -> r.getSeq[String](r.fieldIndex("patterns")))),
          "answers" -> answers)
      } catch { case NonFatal(e) => failure(e) + ("id" -> q.id) }
    }

    /** The first question warms up untimed; then questions run back to
      * back until `seconds` have passed, at least `MinMeasured`. */
    def run(questions: Seq[Question], seconds: Double): Map[String, Any] = {
      tracer.keep = false
      val warm = questions.take(1).map(answer)
      tracer.keep = true
      val measured = mutable.ArrayBuffer.empty[Map[String, Any]]
      val t0 = System.nanoTime()
      val it = questions.iterator.drop(1)
      while (it.hasNext && (measured.size < MinMeasured || since(t0) < seconds * 1000))
        measured += answer(it.next())
      Map("warmup" -> warm, "requests" -> measured.toSeq, "measured_ms" -> since(t0))
    }
  }

  /** The batch jobs of the engine: the LLM1 training-set path over all
    * questions at once, then one pass over the iterative graph entries. */
  final class OfflineBatch(spark: SparkSession, g: PropertyGraph, dir: String,
                           tracer: Tracer) {
    import spark.implicits._

    private def persisted(df: DataFrame): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      p.count()
      p
    }

    def trainset(questions: Seq[Question], countUseful: Boolean): Map[String, Any] = {
      val qa = persisted(questions.map(q => (q.id, q.question, q.entities.toSeq, q.gold.toSeq))
        .toDF("id", "question", "entities", "answer_ids"))
      val qEmb = persisted(questions.map(q => (q.id, q.q_emb.toSeq)).toDF("id", "q_emb"))
      val mine = mutable.ArrayBuffer(qa, qEmb)
      tracer.request = "trainset_batch"
      val t0 = System.nanoTime()
      try {
        val c1 = tracer.span("TrainingData.oneHopCandidates")(
          persisted(TrainingData.oneHopCandidates(g, qa)))
        mine += c1
        val c2 = tracer.span("TrainingData.twoHopCandidates")(
          persisted(TrainingData.twoHopCandidates(g, qa)))
        mine += c2
        val c3 = tracer.span("TrainingData.twoPathCandidates")(
          persisted(TrainingData.twoPathCandidates(g, qa)))
        mine += c3
        val all = Seq(c1, c2, c3).reduce(_.unionByName(_, allowMissingColumns = true))
        val gated = tracer.span("TrainingData.bestLabelGate")(
          persisted(TrainingData.bestLabelGate(all, qa)))
        mine += gated
        // only a 1-hop label carries the (src_name, rel_type, tgt_label)
        // that batched retrieval re-executes
        val picked = gated.where(col("rel_type").isNotNull)
          .select(col("id"), col("src_name"), col("rel_type"), col("tgt_label"))
        val retrieved = tracer.span("TrainingData.batchRetrieve1Hop")(
          TrainingData.batchRetrieve1Hop(g, picked, qEmb, maxNodes = 20)
            .select(col("id"), col("node_id"), col("rank").cast("long")).collect())
        val preds = retrieved.groupBy(_.getLong(0)).view
          .mapValues(_.sortBy(_.getLong(2)).map(_.getLong(1)).toSeq).toMap
        val evalDf = questions.map(q => (q.id, preds.getOrElse(q.id, Seq.empty[Long]), q.gold.toSeq))
          .toDF("id", "preds", "labels")
        val avg = tracer.span("Metrics.macroAvg")(
          Metrics.macroAvg(evalDf, col("preds"), col("labels")).collect().head)
        val ms = since(t0)
        val useful =
          if (!countUseful) Map.empty[String, Long]
          else Map("candidates" -> Seq(c1, c2, c3).map(_.count()).sum,
            "useful" -> Seq(c1, c2, c3).map(_.where(col("hits") > 0).count()).sum)
        Map("ok" -> true, "ms" -> ms, "name" -> "trainset_batch",
          "questions" -> questions.size,
          "gated" -> rows(gated.select(col("id"), col("hits"), col("num_results"),
            col("rel_type"), col("cypher_query"))),
          "retrieved" -> retrieved.toSeq.map(r => Seq(r.getLong(0), r.getLong(1), r.getLong(2))),
          "macro" -> avg.getValuesMap[Any](avg.schema.fieldNames.toSeq).view.mapValues(plain).toMap
        ) ++ useful
      } catch { case NonFatal(e) => failure(e) + ("name" -> "trainset_batch") }
      finally mine.foreach(_.unpersist(blocking = true))
    }

    def graphEntry(name: String): Map[String, Any] = {
      tracer.request = name
      val t0 = System.nanoTime()
      try {
        val df = tracer.span(s"Queries.$name") {
          val df = SparkEntry.queries(name)(spark, dir)
          df.count()
          df
        }
        val ms = since(t0)
        // read back untimed, for the oracle check
        Map("ok" -> true, "ms" -> ms, "name" -> name, "columns" -> df.columns.toSeq,
          "rows" -> rows(df), "oracle_sql" -> SparkEntry.oracleSql.get(name))
      } catch { case NonFatal(e) => failure(e) + ("name" -> name) }
    }

    /** One round: the training-set batch, then one pass over the graph
      * entries, each entry one request. */
    def run(questions: Seq[Question], countUseful: Boolean): Map[String, Any] = {
      def logged(r: Map[String, Any]) = {
        System.err.println(s"[perfbench] ${r("name")}: ${r.getOrElse("ms", "failed")} ms")
        r
      }
      val t0 = System.nanoTime()
      val train = logged(trainset(questions, countUseful))
      val entries = GraphEntries.map(name => logged(graphEntry(name)))
      Map("trainset" -> train, "requests" -> entries, "measured_ms" -> since(t0))
    }
  }
}
