package graft.operators

import scala.annotation.tailrec

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** The round runners of graft's iterative DataFrame operators: the
  * convergence loop of the fixpoint operators ([[GraphOps.kCore]],
  * [[GraphOps.coreness]], [[GraphOps.trussEdges]],
  * [[PipelineOps.dedupClusters]]) and [[rounds]], the fixed-round
  * runner of the other `GraphOps` loops over DataFrame state and of
  * [[Lttb.exact]]'s per-bucket picks.
  *
  * Each round's output is checkpointed (lineage truncation, the
  * iterative-plan discipline) and its convergence statistic — a row
  * count or a column sum — is computed IN THE CHECKPOINT'S OWN JOB
  * via `Dataset.observe`: a round costs one job, not the checkpoint
  * plus a separate count/sum job. The loop stops when the statistic
  * stops changing (monotone operators: an unchanged statistic is the
  * identity round) or reaches 0 (a delta frontier), and THROWS past
  * `maxIters`: an unconverged peel or label result is silently wrong
  * (a superset core, split clusters, overstated coreness), so no
  * partial result is ever returned.
  *
  * [[rounds]] runs a FIXED number of rounds (the oracle replays the
  * same count) and hands each round every state so far, so one runner
  * serves the fixed-round loops (which keep the last state), the
  * accumulating ones (FastRP's weighted sum, the walk trace, the
  * sampled hops, the LTTB picks, built from the returned states) and the frontier
  * loops (whose settled set is the lazy union of the earlier
  * frontiers). Three loops stay off it:
  *   - [[GraphOps.pageRankWithN]] keeps lazy lineage by design: all
  *     of its rounds run in the caller's one job;
  *   - [[GraphOps.bfsDistances]] persists its levels lazily, and a
  *     checkpoint per level would add `maxHops` jobs;
  *   - `Similarity`'s `fitCentroids`, `pcaPowerExact` and
  *     `kmeansExact` carry their round state in a driver-side array,
  *     not a DataFrame.
  */
object Fixpoint {

  /** Checkpoint `df` through `ck` (default: eager `localCheckpoint`)
    * and return the result with `stat` — an aggregate over its rows,
    * such as `count(lit(1))` or `sum("c")` — observed by the
    * checkpoint's own job; 0 when there are no rows (SUM over no rows
    * is NULL). `ck` must execute the frame it is given exactly once. */
  def checkpoint(df: DataFrame, stat: Column,
                 ck: DataFrame => DataFrame = _.localCheckpoint())
      : (DataFrame, Long) = {
    val obs = Observation()
    val out = ck(df.observe(obs,
      coalesce(stat.cast("long"), lit(0L)).as("stat")))
    (out, obs.get("stat").asInstanceOf[Long])
  }

  /** Run `round` from `init` (whose statistic is `stat`) until a
    * round's statistic equals the previous one's; returns that round's
    * state. */
  def untilStable[S](op: String, maxIters: Int, init: S, stat: Long)(
      round: S => (S, Long)): S =
    loop(op, maxIters, init, stat)(_ == _)(round)

  /** Run `round` from `init` until a round's statistic is 0; returns
    * that round's state. */
  def untilZero[S](op: String, maxIters: Int, init: S)(
      round: S => (S, Long)): S =
    loop(op, maxIters, init, 0L)((_, now) => now == 0L)(round)

  /** Run `round` for t = 1..n from x₀ = `init` (used as given, so a
    * lazy init stays lazy). Round t sees x₀ … x_{t−1} and returns xₜ
    * lazily; the runner checkpoints it (one eager `localCheckpoint`,
    * so no earlier round's plan stays in its lineage). Returns
    * x₀ … xₙ. */
  def rounds(n: Int, init: DataFrame)(
      round: (IndexedSeq[DataFrame], Int) => DataFrame): IndexedSeq[DataFrame] =
    (1 to n).foldLeft(Vector(init))((xs, t) => xs :+ round(xs, t).localCheckpoint())

  private def loop[S](op: String, maxIters: Int, init: S, stat: Long)(
      done: (Long, Long) => Boolean)(round: S => (S, Long)): S = {
    @tailrec def go(s: S, prev: Long, iter: Int): S =
      if (iter >= maxIters)
        throw new IllegalStateException(
          s"$op did not reach its fixpoint within maxIters=$maxIters " +
            "rounds; its partial result would be wrong, so none is " +
            "returned. Raise maxIters.")
      else {
        val (next, now) = round(s)
        if (done(prev, now)) next else go(next, now, iter + 1)
      }
    go(init, stat, 0)
  }
}
