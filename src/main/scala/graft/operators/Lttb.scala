package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Pins.pin

/** EXACT `largestTriangleThreeBuckets` (the ClickHouse/LTTB-paper
  * sequential semantics, complementing the order-parallel fixed-anchor
  * variant in the `cdc_lttb` entry): first and last points survive;
  * middle points split into `nOut − 2` buckets; bucket b keeps the
  * point with the largest triangle area formed with the PREVIOUSLY
  * SELECTED point and the NEXT bucket's average — a greedy left fold,
  * so each pick depends on the one before it.
  *
  * Expressed as `nOut − 2` chained relational steps (join previous
  * picks + per-key window argmax per step): the sequential dimension
  * is the BUCKET COUNT (a small constant), never the series length or
  * the series count — per step one join + one per-(key, bucket)
  * argmax over |series| rows, so 100 TB of series downsample in
  * nOut − 2 bounded shuffles. The selection arithmetic is the same
  * all-integer form as the variant entry: the area is multiplied
  * through by the next-anchor's count (E·cC), x is caller-rebased, so
  * the argmax can never flip on a float ulp — which also makes the
  * greedy EXACTLY replayable by a SQL oracle as chained pick CTEs.
  *
  * Series whose length ≤ `nOut` pass through unchanged (every point
  * is representative). Contract: (xCol, yCol) are integral (LongType)
  * — rebase/scale rationals upstream, exactly as `cdc_lttb` does.
  *
  * Output: keyCols :+ (x, y), the selected points. The candidate
  * tables are pinned through [[Pins.pin]] (cache lifetime: its
  * scaladoc).
  */
object Lttb {

  def exact(df: DataFrame, keyCols: Seq[String], xCol: String, yCol: String,
            nOut: Int): DataFrame = {
    require(nOut >= 3, s"Lttb.exact: nOut must be >= 3, got $nOut")
    val nb = nOut - 2 // middle buckets
    val keys = keyCols.map(col)
    val wK = Window.partitionBy(keys: _*)
    val wR = Window.partitionBy(keys: _*).orderBy(col(xCol))
    val pts = pin(df
      .select(keyCols.map(col) :+ col(xCol).as("x") :+ col(yCol).as("y"): _*)
      .withColumn("rn", row_number().over(wR))
      .withColumn("n", count(lit(1)).over(wK)))
    // short series: every point survives
    val short = pts.filter(col("n") <= nOut)
      .select(keys :+ col("x") :+ col("y"): _*)
    val eng = pts.filter(col("n") > nOut)
    val firstPt = eng.filter(col("rn") === 1)
      .select(keys :+ col("x").as("fx") :+ col("y").as("fy"): _*)
    val lastPt = eng.filter(col("rn") === col("n"))
      .select(keys :+ col("x").as("lx") :+ col("y").as("ly"): _*)
    // bucket id over middle points: j = rn − 2 ∈ [0, m), m = n − 2;
    // floor(j·nb/m) is monotone and surjective onto [0, nb) for m ≥ nb
    val mid = pin(eng.filter(col("rn") > 1 && col("rn") < col("n"))
      .withColumn("b",
        least(floor((col("rn") - 2) * nb / (col("n") - 2)), lit((nb - 1).toLong))))
    val bstats = mid.groupBy(keys :+ col("b"): _*)
      .agg(sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        count(lit(1)).as("c"))
    // next-anchor per bucket: bucket b+1's sums, or the last point
    val anch = pin(bstats
      .withColumn("ab", col("b") - 1) // these sums anchor bucket b−1
      .filter(col("ab") >= 0)
      .select(keys :+ col("ab").as("b") :+ col("sx").as("cxs") :+
        col("sy").as("cys") :+ col("c").as("cc"): _*)
      .unionByName(lastPt.select(keys :+ lit((nb - 1).toLong).as("b") :+
        col("lx").as("cxs") :+ col("ly").as("cys") :+ lit(1L).as("cc"): _*)))
    val kNames = keyCols
    // anchors joined onto the candidates ONCE — each step then only
    // joins the (tiny) previous-pick table and filters its bucket
    val midA = pin(mid.join(anch, kNames :+ "b"))
    val wPick = Window.partitionBy(keys: _*).orderBy(col("e").desc, col("x"))
    // round t picks bucket t−1's point against the previous pick x_{t−1}
    // (x₀ = the first point). Each pick feeds the next join AND the
    // result union, and the chain's nested lineage makes Catalyst
    // re-optimize an ever-deeper tree (measured: planning, not
    // execution, dominated the chain) — so the runner's per-round
    // localCheckpoint truncates the logical plan per step, the
    // dedupClusters discipline for exactly this iterative shape.
    val x0 = firstPt.select(keys :+ col("fx").as("x") :+ col("fy").as("y"): _*)
    val picks = Fixpoint.rounds(nb, x0) { (xs, t) =>
      val prev = xs(t - 1).select(keys :+ col("x").as("px") :+ col("y").as("py"): _*)
      // no broadcast hint on prev — it is series-scaled (AQE
      // broadcasts it while it fits, shuffle-joins beyond)
      midA.filter(col("b") === t - 1)
        .join(prev, kNames)
        .withColumn("e", abs(
          (col("px") * col("cc") - col("cxs")) * (col("y") - col("py")) -
          (col("px") - col("x")) * (col("cys") - col("py") * col("cc"))))
        .withColumn("pk", row_number().over(wPick)).filter(col("pk") === 1)
        .select(keys :+ col("x") :+ col("y"): _*)
    }
    (short +: picks :+
      lastPt.select(keys :+ col("lx").as("x") :+ col("ly").as("y"): _*))
      .reduce(_.unionByName(_))
  }
}
