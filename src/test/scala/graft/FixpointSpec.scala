package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftprobe.ListenerDrain

import graft.operators.{Fixpoint, GraphOps, PipelineOps}

/** The round runners (operators/Fixpoint.scala): empty inputs converge
  * to empty results, a loop that runs out of rounds throws instead of
  * returning a partial result, the convergence statistic rides the
  * round's checkpoint job, and the fixed-round runner hands each round
  * its history and checkpoints its state in one job. */
class FixpointSpec extends SparkSpec {

  private def edges(pairs: (Long, Long)*): DataFrame = {
    val s = spark
    import s.implicits._
    pairs.toDF("a", "b")
  }

  /** The five fixpoint loops, by name, at a given `maxIters`. */
  private def loops(e: DataFrame, maxIters: Int): Seq[(String, () => DataFrame)] = Seq(
    "kCore" -> (() => GraphOps.kCore(e, k = 2, maxIters = maxIters)),
    "trussEdges" -> (() => GraphOps.trussEdges(e, k = 3, maxIters = maxIters)),
    "dedupClusters" -> (() => PipelineOps.dedupClusters(e, iCol = "a", jCol = "b",
      maxIters = maxIters)),
    "coreness" -> (() => GraphOps.coreness(e, maxIters)),
    // deltaEdges = -1 sends even an empty graph (0 edges) to the delta loop
    "coreness" -> (() => GraphOps.coreness(e, maxIters, deltaEdges = -1L)))

  test("every fixpoint loop and pageRank return zero rows on an empty edge list") {
    val empty = edges()
    for ((name, run) <- loops(empty, maxIters = 20))
      assert(run().collect().isEmpty, name)
    assert(GraphOps.pageRank(empty, iters = 2).collect().isEmpty, "pageRank")
  }

  test("every fixpoint loop throws past maxIters and converges one round later") {
    // triangle + tail: each loop changes its state in round 1 (the tail
    // peels, its label or coreness drops) and detects the fixpoint in
    // round 2, so maxIters = 1 is one round short
    val e = edges((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).localCheckpoint()
    for ((name, run) <- loops(e, maxIters = 1)) {
      val ex = intercept[IllegalStateException](run().collect())
      assert(ex.getMessage.contains(name) && ex.getMessage.contains("maxIters=1"),
        ex.getMessage)
    }
    val converged = loops(e, maxIters = 2).map { case (name, run) =>
      name -> run().collect().map(_.toSeq.map(_.asInstanceOf[Long])).toSet
    }
    assert(converged == Seq(
      "kCore" -> Set(Seq(1L, 2L), Seq(2L, 2L), Seq(3L, 2L)),
      "trussEdges" -> Set(Seq(1L, 2L, 1L), Seq(1L, 3L, 1L), Seq(2L, 3L, 1L)),
      "dedupClusters" -> Set(Seq(1L, 1L), Seq(2L, 1L), Seq(3L, 1L), Seq(4L, 1L)),
      "coreness" -> Set(Seq(1L, 2L), Seq(2L, 2L), Seq(3L, 2L), Seq(4L, 1L)),
      "coreness" -> Set(Seq(1L, 2L), Seq(2L, 2L), Seq(3L, 2L), Seq(4L, 1L))))
  }

  /** The jobs `body` runs, counted per query execution, in the order
    * the executions started. */
  private def jobsPerQuery(body: => Unit): Seq[Int] = {
    val ids = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        ids.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .getOrElse("none"))
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      ListenerDrain(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    val seq = ids.asScala.toSeq
    seq.distinct.map(id => seq.count(_ == id))
  }

  test("a dedupClusters round runs only its checkpoint's jobs, no statistic job") {
    // on the path 0—1—…—n the minimum label needs n - 1 rounds to reach
    // the far end, plus the identity round: one more node, one more round
    def path(n: Int): DataFrame = edges((0 until n).map(i => (i.toLong, i + 1L)): _*)
    def build(n: Int): Seq[Int] =
      jobsPerQuery(PipelineOps.dedupClusters(path(n), iCol = "a", jCol = "b"))
    build(6) // warm-up: first-use planning and code generation
    val short = build(6)
    val long = build(7)
    info(s"jobs per query: n=6 ${short.mkString(",")}; n=7 ${long.mkString(",")}")
    assert(long.size == short.size + 1,
      "one extra round must add exactly one query, its checkpoint")
    assert(long.sum - short.sum == long.last,
      "the extra round's jobs must all belong to its checkpoint query")
  }

  test("rounds hands round t exactly x0 … x(t-1) and returns x0 … xn") {
    val init = spark.range(4).toDF("v")
    val calls = scala.collection.mutable.ArrayBuffer.empty[(IndexedSeq[DataFrame], Int)]
    val xs = Fixpoint.rounds(3, init) { (prev, t) =>
      calls += (prev -> t)
      prev.last.select((col("v") + t).as("v"))
    }
    assert(xs.size == 4)
    assert(xs.head eq init, "init is used as given")
    assert(calls.map(_._2) == Seq(1, 2, 3))
    for ((prev, t) <- calls)
      assert(prev.size == t && prev.indices.forall(i => prev(i) eq xs(i)),
        s"round $t must see exactly the states before it")
    assert(xs.map(_.collect().map(_.getLong(0)).sorted.toSeq) == Seq(
      Seq(0L, 1L, 2L, 3L), Seq(1L, 2L, 3L, 4L), Seq(3L, 4L, 5L, 6L),
      Seq(6L, 7L, 8L, 9L)))
  }

  test("rounds checkpoints each state in one job; n = 0 runs nothing") {
    val init = spark.range(4).toDF("v")
    var calls = 0
    def run(n: Int): IndexedSeq[DataFrame] = Fixpoint.rounds(n, init) { (prev, _) =>
      calls += 1
      prev.last.select((col("v") * 2).as("v"))
    }
    var xs = IndexedSeq.empty[DataFrame]
    assert(jobsPerQuery { xs = run(3) }.sum == 3, "one job per round")
    for (x <- xs.tail) {
      val plan = x.queryExecution.logical
      assert(plan.isInstanceOf[LogicalRDD] && plan.children.isEmpty,
        s"a state must be a checkpointed leaf, not a lineage:\n$plan")
    }
    calls = 0
    assert(jobsPerQuery { xs = run(0) }.isEmpty)
    assert(xs.size == 1 && (xs.head eq init) && calls == 0)
  }
}
