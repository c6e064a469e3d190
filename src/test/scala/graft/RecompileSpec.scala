package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame

import graft.operators.{GraphOps, PipelineOps}

/** The generated-code cache must hold one pass of the iterative graph
  * operators. One pass generates ~200 distinct classes; with Spark's
  * default of 100 cache entries they cycle through the cache, every
  * lookup misses, and each later pass compiles them all again. With
  * the size `GraftSession.recommendedConf` sets, a repeated pass
  * compiles at most a tenth of what the first one did. */
class RecompileSpec extends SparkSpec {

  /** A seeded graph: a ring (one component, coreness ≥ 2) plus random
    * chords, in the `a`, `b` edge layout the operators read. */
  private def graph(): DataFrame = {
    val s = spark
    import s.implicits._
    val n = 300
    val rng = new scala.util.Random(7)
    val ring = (0 until n).map(i => (i.toLong, ((i + 1) % n).toLong))
    val chords = Seq.fill(2 * n)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
    (ring ++ chords).toDF("a", "b")
  }

  /** One pass as the graph benchmark runs it: each operator through
    * `GraphOps.materialized`, which checkpoints and releases its pins. */
  private def pass(edges: DataFrame): Unit = {
    def run(df: => DataFrame): Unit = GraphOps.materialized(df)(_.collect())
    run(GraphOps.pageRankWithN(edges, 3)._1)
    run(PipelineOps.dedupClusters(edges, iCol = "a", jCol = "b"))
    run(GraphOps.coreness(edges))
    run(GraphOps.louvainTwoLevel(edges, 2, 2))
  }

  /** Janino compiles `body` makes (executor threads included). */
  private def compiles(body: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  test("a repeated graph pass reuses its generated code instead of recompiling") {
    val edges = graph()
    val first = compiles(pass(edges))
    // AQE numbers whole-stage-codegen stages in the order its query
    // stages finish, and a cold pass can finish them in another order
    // than a warm one: the second pass may compile a few classes that
    // differ from the first pass's only in that number. The fewer of
    // two repeats is the one that shows what the cache holds.
    val again = Seq.fill(2)(compiles(pass(edges)))
    info(s"Janino compiles: first pass $first, repeats ${again.mkString(", ")}")
    assert(first > 0, "the pass generated no code, so it checks nothing")
    assert(again.min * 10 <= first,
      s"repeated passes compiled ${again.mkString(", ")} classes, the first pass $first")
  }
}
