package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{GraphOps, PipelineOps}

/** `graph_loops`: one op runs the iterative graph operators over the
  * supplier → customer supply graph: PageRank and coreness on the full
  * graph, components and two-level Louvain on its sparse slice (the
  * split `GraphQueries` uses). At this scale they are bound by job
  * count and checkpoints, so `sources`, `streaming` and `sinks` do
  * nothing here. Each call runs through `GraphOps.materialized`, which
  * checkpoints the result and releases the operator's pins. */
final class Graph(seed: Long) extends Workload {
  import Graph._

  private var spark: SparkSession = _
  private var tracer: Tracer = _
  private var fullPath, sparsePath = ""
  private var full, sparse: Map[Long, Set[Long]] = Map.empty
  private var refRank: Map[Long, Double] = Map.empty
  private var refComp: Map[Long, Long] = Map.empty
  private var refCore: Map[Long, Int] = Map.empty
  private var edgeLists: (Vector[(Long, Long)], Vector[(Long, Long)]) = (Vector.empty, Vector.empty)
  private val callS = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val spansOf = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]
  private val modularities = mutable.ArrayBuffer.empty[Double]

  def setup(s: SparkSession, t: Tracer, dir: File): Unit = {
    spark = s; tracer = t
    val (all, slice) = Gen.supply(seed, Suppliers, Customers, Regions, MaxDeg, CrossShare)
    edgeLists = (all, slice)
    // plain-text edge lists, converted once to parquet: the operators
    // read parquet, as they would from a landing zone
    def land(name: String, edges: Vector[(Long, Long)]): String = {
      val csv = new File(dir, s"$name.csv")
      Gen.writeFiles(csv, Gen.edgeLines(edges), edges.length.max(1), ".csv")
      val out = new File(dir, s"$name.parquet").getPath
      spark.read.schema("a LONG, b LONG").csv(csv.getPath).write.parquet(out)
      out
    }
    fullPath = land("supply", all)
    sparsePath = land("supply_sparse", slice)
  }

  def references(): Unit = {
    full = Ref.adjacency(edgeLists._1)
    sparse = Ref.adjacency(edgeLists._2)
    refRank = Ref.pageRank(full, PageRankIters)
    refComp = Ref.components(sparse)
    refCore = Ref.coreness(full)
  }

  def warmup(): () => Outcome = pass(0L, keep = false)

  def op(index: Int, opSpan: Long): () => Outcome = pass(opSpan, keep = true)

  private def edges(path: String): DataFrame = spark.read.parquet(path)

  private def pass(opSpan: Long, keep: Boolean): () => Outcome = {
    def call(algo: String)(df: => DataFrame): Array[Row] =
      tracer.span(s"operators.$algo", "operators", opSpan) { id =>
        val t0 = System.nanoTime()
        val rows = GraphOps.materialized(df)(_.collect())
        if (keep) {
          callS.getOrElseUpdate(algo, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
          if (tracer.active) spansOf.getOrElseUpdate(algo, mutable.ArrayBuffer.empty) += id
        }
        rows
      }
    val pr = call("pagerank")(GraphOps.pageRankWithN(edges(fullPath), PageRankIters)._1)
    val comp = call("components")(
      PipelineOps.dedupClusters(edges(sparsePath), iCol = "a", jCol = "b"))
    val core = call("coreness")(GraphOps.coreness(edges(fullPath)))
    val louv = call("louvain")(GraphOps.louvainTwoLevel(edges(sparsePath), LouvainRounds, LouvainRounds))
    () => Outcome(Seq(
      "pagerank" -> checkPageRank(pr),
      "components" -> exact(comp.map(r => r.getLong(0) -> r.getLong(1)).toMap, refComp),
      "coreness" -> exact(core.map(r => r.getLong(0) -> r.getLong(1).toInt).toMap, refCore),
      "louvain" -> checkLouvain(louv, keep)))
  }

  private def exact[V](got: Map[Long, V], want: Map[Long, V]): Seq[String] =
    if (got == want) Nil
    else {
      val diff = want.filter { case (k, v) => !got.get(k).contains(v) }
      Seq(s"${got.size} nodes vs ${want.size} in the reference; ${diff.size} differ, e.g. " +
        diff.take(3).map { case (k, v) => s"$k: ${got.get(k)} vs $v" }.mkString(", "))
    }

  /** Ranks within [[RankTolerance]] (relative) of the reference. */
  private def checkPageRank(rows: Array[Row]): Seq[String] = {
    val got = rows.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val off = refRank.count { case (v, want) =>
      got.get(v).forall(g => math.abs(g - want) > RankTolerance * want)
    }
    if (got.size == refRank.size && off == 0) Nil
    else Seq(s"${got.size} ranks vs ${refRank.size}; $off outside the tolerance")
  }

  /** Every node assigned exactly once, modularity at or above the bound. */
  private def checkLouvain(rows: Array[Row], keep: Boolean): Seq[String] = {
    val nodes = rows.map(_.getLong(0))
    if (nodes.length != sparse.size || nodes.toSet != sparse.keySet)
      Seq(s"${nodes.length} assignments (${nodes.distinct.length} distinct) for ${sparse.size} nodes")
    else {
      val q = Ref.modularity(sparse, rows.map(r => r.getLong(0) -> r.getLong(2)).toMap)
      if (keep) modularities += q
      if (q >= ModularityBound) Nil else Seq(f"modularity $q%.4f below $ModularityBound")
    }
  }

  def inputRecord: Map[String, Any] = Map(
    "suppliers" -> Suppliers, "customers" -> Customers, "regions" -> Regions,
    "edges" -> edgeLists._1.length, "sparse_edges" -> edgeLists._2.length,
    "nodes" -> full.size, "sparse_nodes" -> sparse.size,
    "sparse_components" -> refComp.values.toSet.size,
    "max_coreness" -> refCore.values.max,
    "pagerank_tolerance" -> RankTolerance, "modularity_bound" -> ModularityBound)

  def record(opSeconds: Seq[Double]): Map[String, Any] = Map(
    "graph_pass_s" -> Stats.median(opSeconds),
    "louvain_modularity" -> (if (modularities.isEmpty) 0.0 else Stats.median(modularities.toSeq)),
    "call_s_median" -> callS.map { case (k, v) => k -> Stats.median(v.toSeq) })

  def layers: Map[String, Double] = {
    val all = tracer.all
    val spans = all.map(s => s.id -> s).toMap
    val byParent = all.groupBy(_.parent)
    // a call's counters include every span nested under it
    def under(id: Long): Seq[Span] =
      spans.get(id).toSeq ++ byParent.getOrElse(id, Nil).flatMap(s => under(s.id))
    Algos.flatMap { a =>
      val ids = spansOf.getOrElse(a, Nil)
      val n = ids.length.max(1).toDouble
      val c = tracer.sum(ids.flatMap(under))
      Seq(s"operators.${a}_s" ->
          (if (ids.isEmpty) 0.0 else Stats.median(ids.flatMap(spans.get).map(_.durNs / 1e9).toSeq)),
        s"operators.${a}_jobs" -> c.jobs / n,
        s"operators.${a}_tasks" -> c.tasks / n,
        s"operators.${a}_shuffle_mb" -> c.shuffleWrite / 1048576.0 / n,
        s"operators.${a}_spill_mb" -> c.spill / 1048576.0 / n)
    }.toMap
  }
}

object Graph {
  val Suppliers = 200
  val Customers = 3000
  val Regions = 8
  val MaxDeg = 4
  val CrossShare = 0.1
  val PageRankIters = 3
  /** Local-moving rounds per Louvain level (the pack's entry runs 4):
    * each round is a fixed set of jobs, so two keep the per-round cost
    * in view at half the wall time. */
  val LouvainRounds = 2
  /** Relative: summation order differs between engines, not the math. */
  val RankTolerance = 1e-9
  /** The planted regions give the sparse slice a modularity well above
    * this; a Louvain that stops moving nodes falls far below it. */
  val ModularityBound = 0.5
  val Algos: Seq[String] = Seq("pagerank", "components", "coreness", "louvain")
}
