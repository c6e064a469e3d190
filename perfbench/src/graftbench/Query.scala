package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.CurrentState
import graft.sinks.ParquetSink
import graft.streaming.CdcStream

/** `cdc_query`: one closed-loop client cycling a seed-ordered mix of the
  * reference's query surface over the landed state. The landing zone is
  * built in set-up by the same streaming sinks from the same small
  * batches as `cdc_ingest`, so it has the streamed many-files layout.
  * The read path does the work — hash aggregation, joins, parquet scans
  * of that layout — with no wire parse, streaming or JDBC. Each query
  * runs its full physical plan through `queryExecution.toRdd.count()`.
  * One op is one pass of the mix. */
final class Query(seed: Long) extends Workload {
  import Query._

  private var spark: SparkSession = _
  private var tracer: Tracer = _
  private var nodesZone, relsZone = ""
  private var gen: Gen.Cdc = _
  private var month = 0
  private var expected: Map[String, Vector[String]] = Map.empty
  private val order: Vector[String] =
    new scala.util.Random(seed).shuffle(Names.toVector)

  private val execMs = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val planMs = mutable.ArrayBuffer.empty[Double]
  private val runMs = mutable.ArrayBuffer.empty[Double]
  private val spansOf = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]

  def setup(s: SparkSession, t: Tracer, dir: File): Unit = {
    spark = s; tracer = t
    gen = Gen.cdc(seed, ZoneNodeRows, ZoneRelRows, Ingest.Entities,
      ZoneRelRows / Ingest.RelRowsPerMonth)
    Seq(true, false).foreach { nodes =>
      val wire = new File(dir, if (nodes) "wire_nodes" else "wire_rels")
      Gen.writeFiles(wire, if (nodes) gen.nodeLines else gen.relLines, Ingest.BatchRows)
      val zone = new File(dir, if (nodes) "zone_nodes" else "zone_rels").getPath
      CdcStream.landMonthly(Ingest.landable(spark, nodes, wire.getPath, jdbc = false),
        "event_timestamp", zone, new File(dir, s"ck_$nodes").getPath)
      if (nodes) nodesZone = zone else relsZone = zone
    }
    val months = gen.rels.filter(_.valid).map(e => Ref.monthOf(e.tsMicros)).distinct.sorted
    month = months(new java.util.SplittableRandom(seed).nextInt(months.length))
  }

  def references(): Unit = expected = Ref.queries(gen.nodes, gen.rels, month)

  /** One pass of the mix; the first timed pass is the fully checked one. */
  def warmup(): () => Outcome = pass(0L, full = false, keep = false)

  private def nodes: DataFrame = ParquetSink.readMonthly(spark, nodesZone)
  private def rels: DataFrame = ParquetSink.readMonthly(spark, relsZone)
  private val Order = Seq("event_timestamp", "event_id")

  /** The mix. Each entry builds a fresh DataFrame, so every execution
    * plans (and lists the zone) again, as a client's query would. */
  private def build(q: String): DataFrame = q match {
    case "final" =>
      CurrentState.latest(nodes.drop("month"), "entity_id", Order)
        .select("entity_id", "event_id")
    case "current" =>
      CurrentState.current(nodes.drop("month"), "entity_id", Order,
        col("event_type") === "DELETE").select("entity_id", "event_id")
    case "by_event_type" =>
      nodes.groupBy("event_type").agg(count(lit(1)))
    case "by_label" =>
      nodes.select(explode(col("labels")).as("label")).groupBy("label").agg(count(lit(1)))
    case "by_rel_type" =>
      rels.groupBy("relationship_type").agg(count(lit(1)))
    case "dup_entities" =>
      nodes.groupBy("entity_id", "event_type").agg(count(lit(1)).as("n"))
        .filter(col("n") > 1)
    case "props" =>
      nodes.groupBy("event_type")
        .agg(sum(get_json_object(col("properties_after"), "$.k").cast("long")))
    case "month_range" =>
      rels.filter(col("month") === month).groupBy("relationship_type")
        .agg(count(lit(1)),
          sum(get_json_object(col("properties_after"), "$.totalprice")
            .cast("decimal(18,2)")))
    case "join" =>
      val ln = CurrentState.latest(nodes.drop("month"), "entity_id", Order)
        .select(col("entity_id").as("source_id"), col("event_type").as("node_type"))
      CurrentState.latest(rels.drop("month"), "entity_id", Order)
        .join(ln, "source_id")
        .groupBy("node_type", "relationship_type").agg(count(lit(1)))
  }

  def op(index: Int, opSpan: Long): () => Outcome =
    pass(opSpan, full = index == 0, keep = true)

  /** One pass of the mix; the checks compare every execution's row
    * count with the reference, and with `full` also the rows. Only a
    * `keep` pass adds to the run's samples. */
  private def pass(opSpan: Long, full: Boolean, keep: Boolean): () => Outcome = {
    val counted = order.map { q =>
      tracer.span(s"queries.$q", "queries", opSpan) { qs =>
        val t0 = System.nanoTime()
        val df = tracer.span("queries.plan", "queries", qs) { _ =>
          val d = build(q); d.queryExecution.executedPlan; d
        }
        val t1 = System.nanoTime()
        val n = tracer.span("queries.exec", "queries", qs)(_ => df.queryExecution.toRdd.count())
        val t2 = System.nanoTime()
        if (keep) {
          execMs.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += (t2 - t0) / 1e6
          if (tracer.active) {
            planMs += (t1 - t0) / 1e6; runMs += (t2 - t1) / 1e6
            spansOf.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += qs
          }
        }
        (q, n)
      }
    }
    () => Outcome(counted.map { case (q, n) =>
      val want = expected(q)
      val fs =
        if (n != want.length) Seq(s"$n rows, reference has ${want.length}")
        else if (full) {
          val got = build(q).collect().map(render).toVector.sorted
          if (got == want) Nil
          else Seq(s"rows differ from the reference: ${(got diff want).take(3)} vs ${(want diff got).take(3)}")
        } else Nil
      s"query $q" -> fs
    })
  }

  private def render(r: Row): String = r.toSeq.map {
    case d: java.math.BigDecimal => d.toPlainString
    case v => String.valueOf(v)
  }.mkString("|")

  def inputRecord: Map[String, Any] = Map(
    "nodes" -> Gen.props(gen.nodes).toMap,
    "rels" -> Gen.props(gen.rels).toMap,
    "batch_rows" -> Ingest.BatchRows, "month_range_month" -> month,
    "mix_order" -> order,
    "zone_files" -> Map("nodes" -> FileTree.sizeOf(new File(nodesZone), ".parquet")._1,
      "rels" -> FileTree.sizeOf(new File(relsZone), ".parquet")._1))

  def record(opSeconds: Seq[Double]): Map[String, Any] = {
    val all = execMs.values.flatten.toSeq
    Map("query_mix_s" -> Stats.median(opSeconds),
      "query_ms" -> Stats.summary(all))
  }

  def layers: Map[String, Double] = {
    val all = tracer.all
    val spans = all.map(s => s.id -> s).toMap
    Names.flatMap { q =>
      val ss = spansOf.getOrElse(q, Nil).flatMap(spans.get)
      val n = ss.length.max(1).toDouble
      val ids = ss.map(_.id).toSet
      // a query's jobs run in its plan and exec child spans
      val c = tracer.sum(ss ++ all.filter(s => ids(s.parent)))
      Seq(s"queries.${q}_ms" -> (if (ss.isEmpty) 0.0 else Stats.median(ss.map(_.durNs / 1e6).toSeq)),
        s"queries.${q}_jobs" -> c.jobs / n,
        s"queries.${q}_shuffle_mb" -> c.shuffleWrite / 1048576.0 / n,
        s"queries.${q}_input_mb" -> c.input / 1048576.0 / n)
    }.toMap ++ Map(
      "queries.plan_ms" -> (if (planMs.isEmpty) 0.0 else Stats.median(planMs.toSeq)),
      "queries.exec_ms" -> (if (runMs.isEmpty) 0.0 else Stats.median(runMs.toSeq)))
  }
}

object Query {
  val ZoneNodeRows = 2000
  val ZoneRelRows = 3000
  val Names: Seq[String] = Seq("final", "current", "by_event_type", "by_label",
    "by_rel_type", "dup_entities", "props", "month_range", "join")
}
