package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** ClickHouse-analog event-sequence analytics: `windowFunnel` and
  * `retention` (the parametric aggregate functions the reference's
  * ClickHouse side ships for exactly this event-stream shape —
  * README.md:318's monitoring queries are the degenerate 1-step case).
  *
  * Both are per-entity aggregations over an event stream, so the scale
  * shape is ONE hash aggregation keyed by the entity column — partial
  * aggregation map-side, only per-entity state (a sorted event array
  * bounded by that entity's event count for the funnel; k booleans for
  * retention) crosses the shuffle. No UDF/UDAF: the funnel's
  * chain-search DP runs inside a codegen'd higher-order `aggregate`
  * over the sorted per-user array, so the whole operator is Exchange +
  * ObjectHashAggregate + projection. An entity's event history must
  * fit an aggregation buffer (same contract as sessionize/collect_list
  * operators; a 100 TB deployment funnels within a time slice, not an
  * unbounded history — partition pruning on the scan bounds it).
  */
object Funnel {

  /** Per entity, the chronologically sorted event history every
    * funnel/sequence DP folds over: `evs` = array of (ts_us, tie,
    * s1..sk), sk = whether the event matches `steps(k-1)`. Struct sort
    * is lexicographic by field order, so (ts_us, tie) leads and the
    * order is total. */
  private def history(op: String, events: DataFrame, userCol: String,
                      tsCol: String, tieCol: String,
                      steps: Seq[Column]): DataFrame = {
    require(steps.nonEmpty, s"$op needs at least one step")
    val k = steps.length
    events.select(
      col(userCol) +:
        unix_micros(col(tsCol)).as("ts_us") +:
        col(tieCol).cast("long").as("tie") +:
        steps.zipWithIndex.map { case (c, i) => c.as(s"s${i + 1}") }: _*)
      .groupBy(userCol)
      .agg(sort_array(collect_list(struct(
        col("ts_us") +: col("tie") +:
          (1 to k).map(i => col(s"s$i")): _*))).as("evs"))
  }

  /** Max funnel level per entity: the length of the longest chain of
    * events e₁ < e₂ < … < e_L (strict (ts, tieCol) order — the tie
    * column makes the order total, so equal-timestamp events chain
    * deterministically) with e_i matching `steps(i-1)` and
    * ts_L − ts_1 ≤ `windowMicros`, maximized over ALL chain starts —
    * ClickHouse windowFunnel's default mode, pinned to a total order.
    *
    * Single chronological sweep per entity: `best(k)` carries the
    * LATEST chain-start timestamp among chains of length k seen so
    * far. A later start strictly dominates for extension (every stored
    * chain already ends before the current event in the total order,
    * so only the window constraint binds, and a later t₁ loosens it) —
    * which is what makes one left-to-right `aggregate` equivalent to
    * the exists-any-chain semantics the oracle recomputes by explicit
    * join. Output: (userCol, level) with level ∈ [0, steps.length].
    */
  def windowFunnel(events: DataFrame, userCol: String, tsCol: String,
                   tieCol: String, steps: Seq[Column],
                   windowMicros: Long): DataFrame = {
    val k = steps.length
    val hist = history("windowFunnel", events, userCol, tsCol, tieCol, steps)
    // DP state: best(i) = latest chain-start among length-i chains
    // (null = none). Transitions read the PRE-event state (acc.*), so
    // one event never serves two steps of the same chain, and chains
    // always end strictly earlier in the total order than the event
    // extending them.
    val init = struct((1 to k).map(i =>
      lit(null).cast("long").as(s"b$i")): _*)
    val folded = hist.select(col(userCol), aggregate(col("evs"), init,
      (acc, e) => {
        val trans = (1 to k).map { i =>
          val ext =
            if (i == 1) when(e.getField("s1"), e.getField("ts_us"))
            else when(e.getField(s"s$i") &&
              acc.getField(s"b${i - 1}").isNotNull &&
              e.getField("ts_us") - acc.getField(s"b${i - 1}") <=
                lit(windowMicros),
              acc.getField(s"b${i - 1}"))
          greatest(acc.getField(s"b$i"), ext).as(s"b$i")
        }
        struct(trans: _*)
      }).as("best"))
    // build inside-out: the last-wrapped branch wins, so wrap from
    // level 1 up and the highest reached level takes precedence
    folded.select(col(userCol),
      (1 to k).foldLeft(lit(0)) { (els, i) =>
        when(col(s"best.b$i").isNotNull, i).otherwise(els)
      }.cast("int").as("level"))
  }

  /** [[windowFunnel]] in ClickHouse's `strict_increase` mode: chain
    * timestamps must STRICTLY increase — an event can extend only
    * chains whose last event has a strictly smaller ts (equal-ts
    * events, however tie-ordered, never chain). The default DP's
    * single best(i) register is insufficient here: eligibility now
    * depends on the chain's LAST-event ts, not just its start. Two
    * registers per level close it exactly:
    *
    *   p(i) = latest chain-start among length-i chains ending
    *          STRICTLY BEFORE the current timestamp;
    *   c(i) = latest chain-start among length-i chains ending
    *          AT the current timestamp.
    *
    * When the sweep's timestamp advances, c rolls into p (those
    * chains now end strictly before). Extensions read p(i−1) only
    * (strictness), and land in c(i) (the new chain ends now). Within
    * each bucket max-start still dominates — eligibility is uniform
    * across the bucket and the window constraint binds only on the
    * start — so the sweep stays one codegen'd `aggregate`, state
    * 2k+1 longs per entity. Same exists-any-chain semantics as the
    * oracle's explicit join with strict `<` between consecutive
    * steps. */
  def windowFunnelStrictIncrease(events: DataFrame, userCol: String,
                                 tsCol: String, tieCol: String,
                                 steps: Seq[Column],
                                 windowMicros: Long): DataFrame = {
    val k = steps.length
    val hist = history("windowFunnel", events, userCol, tsCol, tieCol, steps)
    val init = struct(
      lit(Long.MinValue).as("cur_ts") +:
        ((1 to k).map(i => lit(null).cast("long").as(s"p$i")) ++
          (1 to k).map(i => lit(null).cast("long").as(s"c$i"))): _*)
    val folded = hist.select(col(userCol), aggregate(col("evs"), init,
      (acc, e) => {
        val t = e.getField("ts_us")
        val rolled = t > acc.getField("cur_ts")
        // post-roll pre-event state: chains ending strictly before t
        def p(i: Int) = when(rolled,
          greatest(acc.getField(s"p$i"), acc.getField(s"c$i")))
          .otherwise(acc.getField(s"p$i"))
        def c(i: Int) = when(rolled, lit(null).cast("long"))
          .otherwise(acc.getField(s"c$i"))
        val newC = (1 to k).map { i =>
          val ext =
            if (i == 1) when(e.getField("s1"), t)
            else when(e.getField(s"s$i") && p(i - 1).isNotNull &&
              t - p(i - 1) <= lit(windowMicros), p(i - 1))
          greatest(c(i), ext).as(s"c$i")
        }
        struct(t.as("cur_ts") +:
          ((1 to k).map(i => p(i).as(s"p$i")) ++ newC): _*)
      }).as("best"))
    folded.select(col(userCol),
      (1 to k).foldLeft(lit(0)) { (els, i) =>
        when(col(s"best.p$i").isNotNull || col(s"best.c$i").isNotNull, i)
          .otherwise(els)
      }.cast("int").as("level"))
  }

  /** [[windowFunnel]] in ClickHouse's `strict_order` mode: chain
    * steps must be CONSECUTIVE events in the entity's (ts, tieCol)
    * stream — any intervening event (matching a different step or
    * nothing at all) interrupts the in-flight chains; levels already
    * REACHED are retained (the mode changes extension, not history —
    * A→B→D→C scores level 2: A→B reached, D killed the extension).
    *
    * The fold is simpler than the default mode's: the extension
    * register b(i) holds the start of a chain matching steps 1..i
    * whose i-th step is EXACTLY the previous event — recomputed (and
    * so implicitly nulled) on every event — plus monotone reached
    * flags. One codegen'd `aggregate`, 2k booleans+longs of state.
    * Same event never serves two consecutive steps (registers read
    * the previous event's values simultaneously). */
  def windowFunnelStrictOrder(events: DataFrame, userCol: String,
                              tsCol: String, tieCol: String,
                              steps: Seq[Column],
                              windowMicros: Long): DataFrame = {
    val k = steps.length
    val hist = history("windowFunnel", events, userCol, tsCol, tieCol, steps)
    val init = struct(
      (1 to k).map(i => lit(null).cast("long").as(s"b$i")) ++
        (1 to k).map(i => lit(false).as(s"r$i")): _*)
    val folded = hist.select(col(userCol), aggregate(col("evs"), init,
      (acc, e) => {
        val t = e.getField("ts_us")
        val exts = (1 to k).map { i =>
          if (i == 1) when(e.getField("s1"), t)
          else when(e.getField(s"s$i") &&
            acc.getField(s"b${i - 1}").isNotNull &&
            t - acc.getField(s"b${i - 1}") <= lit(windowMicros),
            acc.getField(s"b${i - 1}"))
        }
        val newB = exts.zipWithIndex.map { case (c, i) => c.as(s"b${i + 1}") }
        val newR = (1 to k).map { i =>
          (acc.getField(s"r$i") || exts(i - 1).isNotNull).as(s"r$i")
        }
        struct(newB ++ newR: _*)
      }).as("best"))
    folded.select(col(userCol),
      (1 to k).foldLeft(lit(0)) { (els, i) =>
        when(col(s"best.r$i"), i).otherwise(els)
      }.cast("int").as("level"))
  }

  /** ClickHouse `sequenceMatch('(?1).*(?2)…')` analog for the
    * chain-of-conditions pattern class: true iff the entity's stream
    * contains events matching every step in order (strict total
    * (ts, tieCol) order, no time window — the window-free special
    * case of [[windowFunnel]], so the same DP serves both; CH's
    * time-operator patterns `(?t>n)` are windowFunnel's job).
    * Output: (userCol, matched). */
  def sequenceMatch(events: DataFrame, userCol: String, tsCol: String,
                    tieCol: String, steps: Seq[Column]): DataFrame =
    windowFunnel(events, userCol, tsCol, tieCol, steps, Long.MaxValue)
      .select(col(userCol), (col("level") === steps.length).as("matched"))

  /** ClickHouse `sequenceCount('(?1).*(?2)…')` analog: the number of
    * NON-OVERLAPPING chains matching the step conditions in strict
    * (ts, tieCol) order, counted greedily from the left (each chain
    * completes at the earliest event that completes any chain, then
    * matching restarts strictly after it — the leftmost-greedy rule
    * that maximizes disjoint-match count). Window-free, like the CH
    * pattern without time operators.
    *
    * Same single-aggregation shape as [[windowFunnel]], with one more
    * piece of per-entity state: the DP's chain-start registers reset
    * when a chain completes, and a counter increments — the completing
    * event is consumed, so chains never share events.
    * Output: (userCol, n_matches). */
  def sequenceCount(events: DataFrame, userCol: String, tsCol: String,
                    tieCol: String, steps: Seq[Column]): DataFrame = {
    val k = steps.length
    val hist = history("sequenceCount", events, userCol, tsCol, tieCol, steps)
    // state: b1..b_{k-1} chain-start registers (the level-k register
    // never survives an event — reaching it IS completion) + count
    val init = struct(
      (1 until k).map(i => lit(null).cast("long").as(s"b$i")) :+
        lit(0L).as("cnt"): _*)
    val folded = hist.select(col(userCol), aggregate(col("evs"), init,
      (acc, e) => {
        val completes =
          if (k == 1) e.getField("s1")
          else e.getField(s"s$k") && acc.getField(s"b${k - 1}").isNotNull
        val regs = (1 until k).map { i =>
          val ext =
            if (i == 1) when(e.getField("s1"), e.getField("ts_us"))
            else when(e.getField(s"s$i") &&
              acc.getField(s"b${i - 1}").isNotNull,
              acc.getField(s"b${i - 1}"))
          // a completing event consumes the whole in-flight chain
          // set: registers restart empty strictly after it
          when(completes, lit(null).cast("long"))
            .otherwise(greatest(acc.getField(s"b$i"), ext)).as(s"b$i")
        }
        struct(regs :+
          (acc.getField("cnt") +
            when(completes, 1L).otherwise(0L)).as("cnt"): _*)
      }).as("st"))
    folded.select(col(userCol), col("st.cnt").as("n_matches"))
  }

  /** ClickHouse `retention` analog: per entity, r₁ = matched
    * `conds(0)`, and rᵢ (i ≥ 2) = r₁ AND matched `conds(i-1)` — no
    * ordering or window, the cohort-definition semantics. One hash
    * aggregation (k boolean max-aggregates, map-side combined).
    * Output: (userCol, r1..rk booleans). */
  def retention(events: DataFrame, userCol: String,
                conds: Seq[Column]): DataFrame = {
    require(conds.nonEmpty, "retention needs at least one condition")
    val flags = events.groupBy(userCol)
      .agg(
        max(when(conds.head, 1).otherwise(0)).as("m1"),
        conds.zipWithIndex.tail.map { case (c, i) =>
          max(when(c, 1).otherwise(0)).as(s"m${i + 1}") }: _*)
    flags.select(
      col(userCol) +:
        (col("m1") === 1).as("r1") +:
        conds.indices.tail.map(i =>
          (col("m1") === 1 && col(s"m${i + 1}") === 1).as(s"r${i + 1}")): _*)
  }
}
