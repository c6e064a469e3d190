package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables

/** SURVEY §2.C — the OLAP workload class the reference's ClickHouse
  * side serves (MergeTree scan-agg, star joins, time-range pruning —
  * 01-init-tables.sql PARTITION BY / ORDER BY design). Expressed as
  * declarative DataFrame plans so Catalyst pushes filters/prunes into
  * the parquet scan and AQE picks join strategies at runtime.
  */
object OlapQueries extends QueryPack {

  val queries: Map[String, Q] = Map(
    // C1: TPC-H Q1 shape — wide scan-aggregate, fully partial-agg
    // friendly (map-side combine collapses to 4 groups before shuffle).
    "q1_agg" -> ((s, dir) =>
      Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum(col("l_quantity")), 4).as("sum_qty"),
          // price sums in EXACT integer cents: money doubles carry 2
          // decimals, so round(x*100) recovers the exact cent value
          // and long sums are associative — the result is identical
          // across engines and summation orders at ANY magnitude
          // (fixed-decimal rounding of a float sum legitimately
          // flipped at ~2.8e11 in the r6/r7 100x runs, where a
          // double's ulp exceeds the rounding granularity).
          // Overflow headroom: sum_disc_price's per-row term is
          // ~4e8 (cents x basis-points), so Long saturates around
          // sf16000 (~2e13 lineitem rows) — far past any single
          // aggregation group this runs at; revisit with DecimalType
          // sums (loud overflow) if group sizes ever approach that.
          (sum(round(col("l_extendedprice") * 100).cast("long")) / 100.0)
            .as("sum_base_price"),
          (sum(round(col("l_extendedprice") * 100).cast("long") *
               (lit(100L) - round(col("l_discount") * 100).cast("long")))
            / 10000.0).as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    // C2: TPC-H Q3 shape — selective dim filter into two fact joins,
    // then top-k. No broadcast hint on customer: it scales linearly
    // with SF (the filter keeps ~1/5 of it), so the join strategy is a
    // runtime size decision — AQE broadcasts when the filtered side
    // fits and falls back to shuffle join when it doesn't.
    "q3_topk" -> ((s, dir) => {
      val cust = Tables.load(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
      val ord = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate") < to_timestamp(lit("1998-01-01")))
      val li = Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") > to_timestamp(lit("1998-01-01")))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"))
        .agg((sum(round(col("l_extendedprice") * 100).cast("long") *
                  (lit(100L) - round(col("l_discount") * 100).cast("long")))
          / 10000.0).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(20)
    }),

    // C3: TPC-H Q5 shape — star join. Only the genuinely scale-free
    // dims (nation 25 rows, region 5 rows) carry broadcast hints;
    // customer is fact-scaled (~SF·150k rows), so its joins are left
    // to AQE — broadcast at small SF, shuffle join at 100 TB.
    "q5_multijoin" -> ((s, dir) => {
      val region = Tables.load(s, dir, "region").filter(col("r_name") === "ASIA")
      val nation = Tables.load(s, dir, "nation")
      val cust = Tables.load(s, dir, "customer")
      val ord = Tables.load(s, dir, "orders")
      val li = Tables.load(s, dir, "lineitem")
      val dims = cust
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(dims, col("o_custkey") === col("c_custkey"))
        .groupBy(col("n_name").as("nation"))
        .agg((sum(round(col("l_extendedprice") * 100).cast("long") *
                  (lit(100L) - round(col("l_discount") * 100).cast("long")))
          / 10000.0).as("revenue"))
        .orderBy("nation")
    }),

    // J5 driver proof (VERDICT r5 #5): the bucketed co-located join
    // layout round-trips CONTENT, not just plan shape. Once per JVM
    // per dir, orders + customer are written bucketed-and-sorted on
    // the join key (the shuffle paid at write time); the timed entry
    // joins the bucketed tables and aggregates, and the oracle is a
    // PLAIN DuckDB join over the source parquet — so a bucketing bug
    // that drops/duplicates rows hash-mismatches. The zero-exchange
    // claim stays asserted in PipelineSpec (plan property, not data).
    "bucketed_join" -> ((s, dir) => {
      val suffix = Staging.md5Hex(dir).take(8)
      val ordT = s"graft_orders_b_$suffix"
      val custT = s"graft_customer_b_$suffix"
      // the bucketing shuffle is write-time cost by design: written
      // once per JVM, the timed run measures the join, not the write
      Staging.once("bucketed", dir) { p =>
        graft.sinks.ParquetSink.writeBucketed(
          Tables.load(s, dir, "orders"), "o_custkey", 8, ordT,
          Some(s"$p/orders"))
        graft.sinks.ParquetSink.writeBucketed(
          Tables.load(s, dir, "customer")
            .withColumnRenamed("c_custkey", "o_custkey"),
          "o_custkey", 8, custT, Some(s"$p/customer"))
      }
      // exact integer-cents sum (see q1_agg): five segments
      // concentrate the sum near 1e11 where fixed-decimal rounding of
      // a float sum is not engine-stable
      s.table(ordT).join(s.table(custT), "o_custkey")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          (sum(round(col("o_totalprice") * 100).cast("long")) / 100.0)
            .as("total"))
        .orderBy("c_mktsegment")
    }),

    // C4: time-range pruned aggregate — the PARTITION BY toYYYYMM
    // query pattern (min/max parquet stats prune row groups).
    "time_range_prune" -> ((s, dir) =>
      Tables.load(s, dir, "orders")
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
                col("o_orderdate") < to_timestamp(lit("1997-01-01")))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
             (sum(round(col("o_totalprice") * 100).cast("long")) / 100.0)
               .as("total"))
        .orderBy("o_orderstatus")),

    // C5 (r14): ROLLUP subtotal hierarchy — region → nation → grand
    // total in ONE aggregation (the ClickHouse `WITH ROLLUP` /
    // reporting-drilldown modifier). Spark's Expand emits one row per
    // rollup level BEFORE the exchange, but partial aggregation
    // collapses each level to its group count map-side, so the
    // shuffle stays O(groups·levels) regardless of fact size. Dims
    // broadcast (region/nation are constant-size); customer⋈orders is
    // the one real join and AQE sizes it. gid = grouping_id() — the
    // SQL-standard bitmask (left col = MSB), identical in DuckDB's
    // GROUPING(); subtotal NULLs are surfaced as 'ALL' so the rows
    // stay engine-sortable.
    "olap_rollup" -> ((s, dir) => {
      val c = Tables.load(s, dir, "customer")
      val n = Tables.load(s, dir, "nation")
      val r = Tables.load(s, dir, "region")
      Tables.load(s, dir, "orders")
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("n_orders"),
          (sum(round(col("o_totalprice") * 100).cast("long")) / 100.0)
            .as("total"))
        .select(coalesce(col("r_name"), lit("ALL")).as("r_name"),
          coalesce(col("n_name"), lit("ALL")).as("n_name"),
          col("gid"), col("n_orders"), col("total"))
        .orderBy("gid", "r_name", "n_name")
    }),

    // C6 (r14): CUBE — every (status × year) marginal in one pass
    // (the dashboard cross-tab modifier). Same Expand + partial-agg
    // shape as olap_rollup: 4 level-rows per input row map-side, ≤
    // |status|·|years|·4 groups on the wire.
    "olap_cube" -> ((s, dir) =>
      Tables.load(s, dir, "orders")
        .withColumn("o_year", year(col("o_orderdate")).cast("long"))
        .cube(col("o_orderstatus"), col("o_year"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("cnt"),
          (sum(round(col("o_totalprice") * 100).cast("long")) / 100.0)
            .as("total"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
          coalesce(col("o_year"), lit(-1L)).as("o_year"),
          col("gid"), col("cnt"), col("total"))
        .orderBy("gid", "o_orderstatus", "o_year")),

    // C7 (r14): explicit GROUPING SETS — two independent 1-D
    // breakdowns + the grand total in one aggregation instead of
    // three scans + a union (the reporting fan-out ClickHouse serves
    // with GROUPING SETS).
    "olap_grouping_sets" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      o.groupingSets(
          Seq(Seq(col("o_orderpriority")), Seq(col("o_orderstatus")),
            Seq.empty),
          col("o_orderpriority"), col("o_orderstatus"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("cnt"),
          (sum(round(col("o_totalprice") * 100).cast("long")) / 100.0)
            .as("total"))
        .select(coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
          col("gid"), col("cnt"), col("total"))
        .orderBy("gid", "o_orderpriority", "o_orderstatus")
    }),

    // C8 (r14): PIVOT — year rows × pinned status columns (Spark's
    // pivot with an EXPLICIT value list: no extra distinct-values
    // pass, and the output schema is static so the oracle can name
    // the same columns). One hash-agg; the pivot is a map-side
    // conditional projection, never a join.
    "olap_pivot" -> ((s, dir) =>
      Tables.load(s, dir, "orders")
        .withColumn("o_year", year(col("o_orderdate")).cast("long"))
        .groupBy("o_year")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg((sum(round(col("o_totalprice") * 100).cast("long")) / 100.0))
        .orderBy("o_year")),

    // C11 (r14): TPC-H Q17 shape — correlated scalar subquery
    // DECORRELATED Spark-first: the per-part average is one
    // map-side-combinable aggregate joined back to the fact (never a
    // per-row subquery), with the brand filter broadcast-pruning both
    // sides first. The 0.2·avg threshold is the same IEEE op tree on
    // both engines (exact integer-valued quantity sums < 2^53), so
    // the below-threshold verdict can't flip.
    "q17_small_quantity" -> ((s, dir) => {
      val pk = Tables.load(s, dir, "part")
        .filter(col("p_brand") === "Brand#4")
        .select("p_partkey")
      val li = Tables.load(s, dir, "lineitem")
        .join(broadcast(pk), col("l_partkey") === col("p_partkey"))
      val avgQ = li.groupBy(col("l_partkey").as("ak"))
        .agg(avg(col("l_quantity")).as("avg_qty"))
      li.join(avgQ, col("l_partkey") === col("ak"))
        .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
        .agg(count(lit(1)).as("n_small"),
          (sum(round(col("l_extendedprice") * 100).cast("long"))
            / 100.0 / 7.0).as("avg_yearly"))
    }),

    // C12 (r14): TPC-H Q15 shape — top supplier(s) by quarterly
    // revenue: a time-pruned fact aggregate, its scalar max broadcast
    // back over the aggregate (ties kept, the Q15 contract), then one
    // dim join for the name.
    "q15_top_supplier" -> ((s, dir) => {
      val rev = Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
                col("l_shipdate") < to_timestamp(lit("1996-04-01")))
        .groupBy("l_suppkey")
        .agg(sum(round(col("l_extendedprice") * 100).cast("long") *
               (lit(100L) - round(col("l_discount") * 100).cast("long")))
          .as("rev_bp"))
      val mx = rev.agg(max(col("rev_bp")).as("m"))
      rev.crossJoin(broadcast(mx))
        .filter(col("rev_bp") === col("m"))
        .join(Tables.load(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          (col("rev_bp") / 10000.0).as("total_revenue"))
        .orderBy("s_suppkey")
    }),

    // C13 (r14): TPC-H Q4 shape — EXISTS decorrelated to a LEFT SEMI
    // join (the one OLAP join class the suite lacked): orders with at
    // least one returned line, counted by priority. The semi join
    // exchanges only the filtered key column and short-circuits on
    // first match — never a row-multiplying inner join + distinct.
    "q4_priority_returns" -> ((s, dir) => {
      val ret = Tables.load(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select("l_orderkey")
      Tables.load(s, dir, "orders")
        .join(ret, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    }),

    // C10 (r14): year-over-year growth — the lag-window reporting
    // class. The window runs AFTER aggregation, over the
    // |years|·|statuses| grouped relation (a few dozen rows at any
    // corpus size), so the per-status sort is never a scale concern;
    // the heavy input collapses in one map-side-combinable hash-agg.
    // Growth is a pure double ratio both engines evaluate with the
    // same IEEE op tree over exact integer cents.
    "olap_yoy_growth" -> ((s, dir) => {
      val yearly = Tables.load(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"),
          col("o_orderstatus"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_orderstatus").orderBy("o_year")
      yearly.withColumn("prev", lag(col("cents"), 1).over(w))
        .select(col("o_orderstatus"), col("o_year"),
          (col("cents") / 100.0).as("total"),
          round((col("cents") * lit(1.0) / col("prev") - lit(1.0)) * 100, 4)
            .as("yoy_pct"))
        .orderBy("o_orderstatus", "o_year")
    }),

    // C9 (r14): TPC-H Q18 shape — large-order screening: a HAVING
    // filter on a fact-side aggregate, then enrichment joins. The
    // aggregate is map-side-combinable (l_orderkey groups are
    // co-located per order); the surviving key set is tiny, so AQE
    // broadcasts it into orders/customer instead of shuffling the
    // facts again.
    "q18_big_orders" -> ((s, dir) => {
      val big = Tables.load(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(round(sum(col("l_quantity")), 4).as("qty"))
        .filter(col("qty") > 300)
      Tables.load(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(Tables.load(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("o_orderkey"), col("o_orderdate"),
          (round(col("o_totalprice") * 100).cast("long") / 100.0)
            .as("o_total"), col("qty"))
        .orderBy(col("o_total").desc, col("o_orderkey"))
        .limit(100)
    }),

    // C14 (r15): TPC-H Q13 shape — the OUTER-join-preserving
    // aggregate: orders per customer INCLUDING the zero-order
    // customers (the rows an inner join would silently drop), then
    // the distribution of those counts. Count of a right-side column
    // (not count(*)) is what makes the LEFT OUTER semantics
    // observable: unmatched rows contribute 0, not 1. Two hash-aggs;
    // output bounded by max-orders-per-customer (≤ a few dozen rows
    // at any corpus size), the heavy exchange is the one o_custkey
    // shuffle the join itself needs.
    "q13_custdist" -> ((s, dir) => {
      // Q13's comment anti-filter maps to the priority class here
      // (the testdata carries no o_comment column)
      val perCust = Tables.load(s, dir, "customer")
        .join(Tables.load(s, dir, "orders")
            .filter(col("o_orderpriority") =!= "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
      perCust.groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // C15 (r15): TPC-H Q22 shape — the ANTI-join class (NOT EXISTS →
    // LEFT ANTI: the one OLAP join class the suite still lacked after
    // Q4's semi join) composed with a broadcast scalar subquery:
    // customers above the positive-balance average with NO urgent
    // order (the testdata gives every customer SOME order, so the
    // anti join binds against the urgent class — ~1/5 of orders —
    // instead of Q22's no-order-at-all, keeping a non-trivial result
    // at every SF). The anti join exchanges only the filtered key
    // column and short-circuits on first match exactly like the semi
    // join; the scalar average is one map-side-combinable agg
    // broadcast into the filter. Exact integer cents for the balance
    // compare (the q1 stance), cross-multiplied (bal·n > sum <=> bal
    // > avg) so no truncating division can flip the threshold
    // cross-engine.
    "q22_no_orders" -> ((s, dir) => {
      val cust = Tables.load(s, dir, "customer")
        .withColumn("bal_cents",
          round(col("c_acctbal") * 100).cast("long"))
      val pos = cust.filter(col("bal_cents") > 0)
        .agg(sum(col("bal_cents")).as("s"), count(lit(1)).as("n"))
      val rich = cust.crossJoin(broadcast(pos))
        .filter(col("bal_cents") * col("n") > col("s"))
      val urgent = Tables.load(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      rich.join(urgent,
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_cust"),
          (sum(col("bal_cents")) / 100.0).as("total_bal"))
        .orderBy("c_nationkey")
    }),

    // C16 (r15): TPC-H Q21 shape — the COMPOSED correlated-subquery
    // class: an EXISTS and a NOT EXISTS against the SAME relation with
    // a different-supplier (<>) correlation, the hardest join shape in
    // TPC-H. "Late" adapts to l_shipdate > o_orderdate + 60 days (the
    // testdata carries no commit/receipt dates); the class is intact.
    // Decorrelated to ONE aggregation instead of two |lineitem|
    // self-joins: per order, count distinct suppliers (nsupp), count
    // distinct LATE suppliers (nlate), and keep the order when
    // nsupp ≥ 2 (the EXISTS: some other supplier participated) and
    // nlate = 1 (the NOT EXISTS: nobody ELSE was late — the single
    // late supplier is the waiting-blocker). Equivalence: a late
    // candidate (order, supplier) survives the NOT EXISTS iff the
    // order's late-supplier set is exactly {supplier}, i.e. nlate = 1;
    // so at most one candidate per order survives and numwait counts
    // qualifying ORDERS. Cost: one orderkey shuffle for the
    // lineitem⋈orders join, then two map-side-combinable hash-aggs
    // (the (order, supplier) dedup collapses multi-line suppliers
    // before the per-order count); the DuckDB oracle replays the
    // LITERAL EXISTS/NOT EXISTS form, proving the decorrelation.
    "q21_waiting_supplier" -> ((s, dir) => {
      val lo = Tables.load(s, dir, "lineitem")
        .join(Tables.load(s, dir, "orders")
            .filter(col("o_orderstatus") === "F")
            .select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_shipdate") >
            col("o_orderdate") + expr("INTERVAL 60 DAYS"))
            .cast("int").as("late"))
      val perSupp = lo.groupBy("l_orderkey", "l_suppkey")
        .agg(max(col("late")).as("late"))
      val perOrder = perSupp.groupBy("l_orderkey")
        .agg(count(lit(1)).as("nsupp"),
          sum(col("late")).as("nlate"),
          max(when(col("late") === 1, col("l_suppkey"))).as("late_supp"))
        .filter(col("nsupp") >= 2 && col("nlate") === 1)
      perOrder
        .join(Tables.load(s, dir, "supplier"),
          col("late_supp") === col("s_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_suppkey"))
    }),

    // C17 (r15): TPC-H Q16 shape — supplier-diversity reporting:
    // DISTINCT-count per attribute group with a NOT IN exclusion
    // subquery (negative-balance suppliers stand in for Q16's
    // complaint filter; s_suppkey is non-nullable so NOT IN is
    // exactly a LEFT ANTI join — the null-poisoning NOT IN trap does
    // not apply and the scaladoc'd rewrite is safe). Scale shape: the
    // exclusion list broadcasts (|supplier| ≪ facts); the
    // (partkey, suppkey) dedup is map-side-combinable and bounds the
    // part join's probe side; the second dedup collapses to
    // ≤ |brand|·|size|·|supplier| rows before the final tiny agg —
    // never a countDistinct expand over raw lineitem.
    "q16_supplier_cnt" -> ((s, dir) => {
      val excluded = Tables.load(s, dir, "supplier")
        .filter(col("s_acctbal") < 0).select("s_suppkey")
      val pairs = Tables.load(s, dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .join(broadcast(excluded),
          col("l_suppkey") === col("s_suppkey"), "left_anti")
        .distinct()
      pairs
        .join(Tables.load(s, dir, "part")
            .select("p_partkey", "p_brand", "p_size"),
          col("l_partkey") === col("p_partkey"))
        .select("p_brand", "p_size", "l_suppkey").distinct()
        .groupBy("p_brand", "p_size")
        .agg(count(lit(1)).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
    }),

    // C18 (r15): TPC-H Q6 shape — the pure filter-pushdown aggregate
    // (the canonical parquet-stats pruning benchmark: no join, the
    // entire query is scan selectivity). The shipdate range and the
    // quantity bound reach PushedFilters; the discount band is decided
    // on EXACT basis points (round(d·100) ∈ [5,7] — the q1 integer
    // stance, so no raw-double boundary compare can flip cross-engine)
    // with a REDUNDANT wider raw-double range (0.04, 0.08) underneath
    // it that IS pushable — parquet row groups still prune, the bp
    // predicate only adjudicates rows the range already admitted.
    // Q6's revenue is price·discount (the forecast delta), in exact
    // cents·bp longs.
    "q6_forecast" -> ((s, dir) =>
      Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
                col("l_shipdate") < to_timestamp(lit("1997-01-01")) &&
                col("l_quantity") < 24 &&
                col("l_discount") > 0.04 && col("l_discount") < 0.08)
        .filter(round(col("l_discount") * 100).cast("long").between(5, 7))
        .agg(count(lit(1)).as("n_lines"),
          (sum(round(col("l_extendedprice") * 100).cast("long") *
               round(col("l_discount") * 100).cast("long")) / 10000.0)
            .as("revenue"))),

    // C19 (r15): TPC-H Q7 shape — bilateral volume shipping: revenue
    // between two named nations by (supplier nation, customer nation,
    // ship year). Scale shape: the nation filter lands on the DIM
    // sides FIRST (supplier/customer each shrink to 2/25 via a
    // broadcast of the 2-row nation slice) so the fact joins probe
    // pruned build sides; the cross-pair (s ≠ c) filter runs on the
    // two attached name columns after the joins. The heavy exchanges
    // are the lineitem⋈orders orderkey shuffle — unavoidable — and the
    // custkey shuffle; both carry only pruned survivors.
    "q7_volume_shipping" -> ((s, dir) => {
      val nat = Tables.load(s, dir, "nation")
        .filter(col("n_name").isin("NATION_10", "NATION_12"))
      val supp = Tables.load(s, dir, "supplier")
        .join(broadcast(nat.select(col("n_nationkey").as("snk"),
          col("n_name").as("supp_nation"))), col("s_nationkey") === col("snk"))
        .select("s_suppkey", "supp_nation")
      val cust = Tables.load(s, dir, "customer")
        .join(broadcast(nat.select(col("n_nationkey").as("cnk"),
          col("n_name").as("cust_nation"))), col("c_nationkey") === col("cnk"))
        .select("c_custkey", "cust_nation")
      Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
                col("l_shipdate") < to_timestamp(lit("1998-01-01")))
        .join(Tables.load(s, dir, "orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg((sum(round(col("l_extendedprice") * 100).cast("long") *
                  (lit(100L) - round(col("l_discount") * 100).cast("long")))
          / 10000.0).as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),

    // C20 (r15): TPC-H Q8 shape — national market share: the fraction
    // of a market's volume (ASIA-region customers buying ECONOMY
    // parts) supplied by one nation, per order year. The conditional
    // share is the shape: sum(CASE supplier-is-NATION_3)/sum(all) over
    // the SAME aggregate — one pass, no self-join. Customer membership
    // is a LEFT SEMI (key-only exchange; the market filter needs
    // existence, not columns); numerator and denominator are exact
    // cents·bp longs, so the 4dp share ratio is one IEEE division
    // over identical operands cross-engine. The NATION_3 test rides
    // s_nationkey directly — no supplier-side nation join at all.
    "q8_market_share" -> ((s, dir) => {
      val asia = Tables.load(s, dir, "customer")
        .join(broadcast(Tables.load(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.load(s, dir, "region")
            .filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select("c_custkey")
      val pk = Tables.load(s, dir, "part")
        .filter(col("p_type") === "ECONOMY").select("p_partkey")
      val vol = round(col("l_extendedprice") * 100).cast("long") *
        (lit(100L) - round(col("l_discount") * 100).cast("long"))
      Tables.load(s, dir, "lineitem")
        .join(pk, col("l_partkey") === col("p_partkey"), "left_semi")
        .join(Tables.load(s, dir, "orders").select("o_orderkey", "o_custkey",
            "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .join(asia, col("o_custkey") === col("c_custkey"), "left_semi")
        .join(Tables.load(s, dir, "supplier").select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(
          round(sum(when(col("s_nationkey") === 3, vol).otherwise(0L)) * 1.0 /
            sum(vol), 4).as("mkt_share"),
          (sum(vol) / 10000.0).as("total_volume"))
        .orderBy("o_year")
    }),

    // C21 (r15): TPC-H Q9 shape — product-line profit by supplier
    // nation and order year, with a part-NAME substring filter (the
    // LIKE class: unindexable, evaluated post-scan on the dim — but
    // the dim shrinks BEFORE touching the fact). The testdata carries
    // no ps_supplycost; p_retailprice·quantity stands in as the cost
    // leg (documented adaptation — the profit SHAPE, a signed
    // two-term sum, is what the class tests). Exact basis-point-cents
    // longs: extc·(100−bp) − retailc·100·qty per row, summed as
    // longs (row magnitude ~1e9, Long headroom to ~9e18 — the q1
    // overflow stance), /10000.0 once at the end.
    "q9_product_profit" -> ((s, dir) => {
      val pk = Tables.load(s, dir, "part")
        .filter(col("p_name").like("%widget%"))
        .select(col("p_partkey"),
          round(col("p_retailprice") * 100).cast("long").as("retailc"))
      val profitBp =
        round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long")) -
        col("retailc") * lit(100L) * col("l_quantity").cast("long")
      Tables.load(s, dir, "lineitem")
        .join(pk, col("l_partkey") === col("p_partkey"))
        .join(Tables.load(s, dir, "supplier").select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.load(s, dir, "nation")
            .select(col("n_nationkey"), col("n_name").as("nation"))),
          col("s_nationkey") === col("n_nationkey"))
        .join(Tables.load(s, dir, "orders").select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("nation"), year(col("o_orderdate")).cast("long").as("o_year"))
        .agg((sum(profitBp) / 10000.0).as("profit"))
        .orderBy(col("nation"), col("o_year").desc)
    }),

    // C22 (r15): TPC-H Q10 shape — returned-item ranking: top-20
    // customers by revenue lost to returns in one quarter. The quarter
    // filter prunes orders FIRST (parquet stats), the returnflag
    // filter prunes lineitem, then one orderkey join + one custkey
    // join + a broadcast nation name. Revenue in exact cents·bp longs
    // makes the desc ranking engine-stable; c_custkey breaks ties.
    "q10_returned_items" -> ((s, dir) => {
      val ord = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
                col("o_orderdate") < to_timestamp(lit("1996-04-01")))
        .select("o_orderkey", "o_custkey")
      Tables.load(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.load(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.load(s, dir, "nation")
            .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"),
          (round(col("c_acctbal") * 100).cast("long") / 100.0).as("c_acctbal"))
        .agg((sum(round(col("l_extendedprice") * 100).cast("long") *
                  (lit(100L) - round(col("l_discount") * 100).cast("long")))
          / 10000.0).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // C23 (r15): TPC-H Q12 shape — late-shipment priority accounting:
    // CASE-conditional counts (high-priority vs low-priority lines)
    // among LATE lines, grouped by a line attribute. Adaptations (the
    // q21 stance): no shipmode column → l_linestatus is the grouping
    // stand-in; no commit/receipt dates → late = l_shipdate >
    // o_orderdate + 60 days. The orders join carries only
    // (o_orderkey, o_orderdate, o_orderpriority); both conditional
    // counts collapse map-side in ONE aggregate — never two passes.
    "q12_late_lines" -> ((s, dir) => {
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
                col("l_shipdate") < to_timestamp(lit("1998-01-01")))
        .join(Tables.load(s, dir, "orders")
            .select("o_orderkey", "o_orderdate", "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") >
          col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .groupBy(col("l_linestatus").as("ship_class"))
        .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
             sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy("ship_class")
    }),

    // C24 (r15): TPC-H Q14 shape — promotional-revenue share: the
    // conditional-aggregate RATIO class (promo fraction of one
    // month's revenue). One month of lineitem (pushed range) joins
    // part for the type flag; numerator and denominator come out of
    // the SAME hash-agg as exact cents·bp longs, the 4dp percentage
    // is one IEEE multiply-divide over identical operands.
    "q14_promo_revenue" -> ((s, dir) => {
      val vol = round(col("l_extendedprice") * 100).cast("long") *
        (lit(100L) - round(col("l_discount") * 100).cast("long"))
      Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
                col("l_shipdate") < to_timestamp(lit("1996-02-01")))
        .join(Tables.load(s, dir, "part").select("p_partkey", "p_type"),
          col("l_partkey") === col("p_partkey"))
        .agg(
          round(sum(when(col("p_type") === "PROMO", vol).otherwise(0L))
            * 100.0 / sum(vol), 4).as("promo_pct"),
          (sum(vol) / 10000.0).as("total_revenue"))
    }),

    // C25 (r15): TPC-H Q19 shape — the DISJUNCTIVE-predicate class:
    // an OR of three (brand ∧ size-range ∧ quantity-range) clauses
    // spanning BOTH join sides. The scale move is the implied-
    // predicate extraction Q19 exists to test: each clause requires
    // brand ∈ {1,2,3} ∧ size ≤ 15 (part side) and quantity ≤ 30
    // (lineitem side) — hoisted here as explicit simple conjuncts so
    // both scans prune with plain range/In PushedFilters regardless
    // of optimizer version. (Catalyst additionally projects the
    // per-side disjuncts of the OR into each scan — the plan audit
    // shows both forms pushed; the spec replays the UNHOISTED literal
    // through Spark SQL and proves the hoist semantics-preserving.)
    "q19_disjunctive" -> ((s, dir) => {
      val p = Tables.load(s, dir, "part")
        .filter(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3") &&
                col("p_size") >= 1 && col("p_size") <= 15)
        .select("p_partkey", "p_brand", "p_size")
      val clause =
        (col("p_brand") === "Brand#1" && col("p_size") <= 5 &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#2" && col("p_size") <= 10 &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#3" &&
          col("l_quantity").between(20, 30))
      Tables.load(s, dir, "lineitem")
        .filter(col("l_quantity") >= 1 && col("l_quantity") <= 30)
        .join(p, col("l_partkey") === col("p_partkey"))
        .filter(clause)
        .agg(count(lit(1)).as("n_lines"),
          (sum(round(col("l_extendedprice") * 100).cast("long") *
               (lit(100L) - round(col("l_discount") * 100).cast("long")))
          / 10000.0).as("revenue"))
    }),

    // C26 (r15): TPC-H Q2 shape — the ARGMIN-per-group join-back
    // class: for each size-15 part, the supplier(s) with the MINIMUM
    // account balance among suppliers who have shipped it (the
    // testdata carries no partsupp/ps_supplycost — partsupp derives
    // as DISTINCT (l_partkey, l_suppkey) shipping history and
    // s_acctbal stands in for the cost; the correlated-min SHAPE is
    // the class). Decorrelated to a whole-partition WINDOW min +
    // filter — ties kept, Q2's contract — rather than a min-agg
    // joined back: the join-back form plans the pair-dedup subtree
    // TWICE (Spark does not reuse the un-cached common subplan — two
    // lineitem scans), the window form scans once and pays one
    // partkey exchange + sort over the part-filtered pair relation.
    // Pair dedup collapses map-side BEFORE any dim join; the part
    // filter (1/|sizes|) prunes the pair relation going in. Exact
    // integer cents make the min and the desc ranking engine-stable.
    "q2_min_cost_supp" -> ((s, dir) => {
      val pk = Tables.load(s, dir, "part")
        .filter(col("p_size") === 15).select("p_partkey")
      val ps = Tables.load(s, dir, "lineitem")
        .select("l_partkey", "l_suppkey").distinct()
        .join(pk, col("l_partkey") === col("p_partkey"))
      val wb = ps.join(Tables.load(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
            round(col("s_acctbal") * 100).cast("long").as("bal")),
        col("l_suppkey") === col("s_suppkey"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("p_partkey")
      wb.withColumn("min_bal", min(col("bal")).over(w))
        .filter(col("bal") === col("min_bal"))
        .join(broadcast(Tables.load(s, dir, "nation")
            .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select((col("bal") / 100.0).as("s_acctbal"), col("s_name"),
          col("n_name"), col("p_partkey"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(100)
    }),

    // C27 (r15): TPC-H Q11 shape — the FRACTION-OF-TOTAL HAVING
    // class: per-part inventory value, keeping parts whose value
    // exceeds 1/10000 of the corpus total. Value adapts to
    // Σ_pairs(shipped qty · supplier balance cents) — the
    // cost-times-quantity product Q11 sums, from the columns the
    // testdata has (positive-balance suppliers stand in for Q11's
    // nation filter). The global total is one extra row out of the
    // SAME aggregate tree, broadcast back over the per-part rows; the
    // threshold is DISTRIBUTION-RELATIVE — value > 1.5× the mean part
    // value, compared cross-multiplied in exact integers
    // (value·np·2 > total·3, no division) — because a fixed fraction
    // of total (Q11's literal 0.0001) empties as the corpus grows
    // (total scales with SF, a part's value does not; measured: 11
    // parts at sf0.1, ZERO at 10×), while the vs-mean form tracks the
    // distribution at every scale (3 / 55 / 642 / 6,420 / 64,200
    // parts across sf0.001 → 100×). Overflow headroom: value·np·2 ≈
    // 4e17 at 100×, Long-safe to ~sf1000 (then regroup via DIV).
    "q11_important_stock" -> ((s, dir) => {
      val sup = Tables.load(s, dir, "supplier")
        .filter(col("s_acctbal") > 0)
        .select(col("s_suppkey"),
          round(col("s_acctbal") * 100).cast("long").as("bal"))
      // The partsupp-level value DISTRIBUTES over lines:
      // Σ_pairs (Σ_lines qty)·bal == Σ_lines qty·bal — so the engine
      // never materializes the derived partsupp at all (the first cut
      // did: three ~|pairs| exchanges per branch, 55M rows each at
      // flat100, probed 18-22 s). One suppkey join at line grain +
      // one map-side-combinable partkey agg; the DuckDB oracle keeps
      // the LITERAL pair-structured formulation, so the hash match
      // additionally proves the distributivity rewrite.
      def lines = Tables.load(s, dir, "lineitem")
        .select(col("l_partkey"),
          col("l_quantity").cast("long").as("qty"), col("l_suppkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
      val v = lines
        .groupBy(col("l_partkey").as("p_partkey"))
        .agg(sum(col("qty") * col("bal")).as("value"))
      // the scalar branch recomputes the line subtree (the
      // q15-adjudicated rescan class — Spark does not reuse un-cached
      // common subplans) but collapses map-side to a single row
      val tot = lines.agg(sum(col("qty") * col("bal")).as("t"),
        count_distinct(col("l_partkey")).as("np"))
      v.crossJoin(broadcast(tot))
        .filter(col("value") * col("np") * 2 > col("t") * 3)
        .select(col("p_partkey"), col("value"))
        .orderBy(col("value").desc, col("p_partkey"))
    }),

    // C28 (r15): TPC-H Q20 shape — the NESTED-SEMI-JOIN class with a
    // correlated aggregate threshold: suppliers who DOMINATE the
    // shipping of some widget part (pair quantity > 2× the part's
    // mean pair quantity — the availqty-vs-half-shipped correlated
    // compare adapted to shipping history; a fixed fraction-of-total
    // would empty as supplier counts grow, the vs-mean form is
    // SF-stable). Decorrelated to one (part, supplier) aggregate +
    // one per-part rollup, compared cross-multiplied in exact
    // integers (q·np > 2·tq ⟺ q > 2·mean, no division); the supplier
    // surface is a LEFT SEMI — key-only exchange, first match wins.
    // The per-part rollup rides a whole-partition WINDOW over the
    // pair aggregate (the agg+join-back form plans the pair subtree
    // twice — two lineitem scans; the window form scans once:
    // lineitem → (part,supp) hash-agg → one partkey exchange + sort).
    // The DuckDB oracle replays the LITERAL doubly-correlated
    // subquery form, proving the decorrelation.
    "q20_promotion_parts" -> ((s, dir) => {
      val pk = Tables.load(s, dir, "part")
        .filter(col("p_name").like("%widget%")).select("p_partkey")
      val pairs = Tables.load(s, dir, "lineitem")
        .join(pk, col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(sum(col("l_quantity").cast("long")).as("q"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("l_partkey")
      val cand = pairs
        .withColumn("tq", sum(col("q")).over(w))
        .withColumn("np", count(lit(1)).over(w))
        .filter(col("q") * col("np") > lit(2L) * col("tq"))
        .select("l_suppkey")
      Tables.load(s, dir, "supplier")
        .join(cand, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    })
  )

  val oracles: Map[String, String] = Map(
    "bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
                sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS total
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
                round(sum(l_quantity), 4) AS sum_qty,
                sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_base_price,
                sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0 AS sum_disc_price,
                round(avg(l_quantity), 4) AS avg_qty,
                round(avg(l_discount), 4) AS avg_disc,
                count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
    "q3_topk" ->
      """SELECT l_orderkey,
                sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0 AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-01-01'
           AND l_shipdate > TIMESTAMP '1998-01-01'
         GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey LIMIT 20""",
    "q5_multijoin" ->
      """SELECT n_name AS nation,
                sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0 AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
         GROUP BY n_name ORDER BY nation""",
    "time_range_prune" ->
      """SELECT o_orderstatus, count(*) AS cnt,
                sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS total
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "olap_rollup" ->
      """SELECT coalesce(r_name, 'ALL') AS r_name,
                coalesce(n_name, 'ALL') AS n_name,
                CAST(GROUPING(r_name, n_name) AS BIGINT) AS gid,
                count(*) AS n_orders,
                sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS total
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP(r_name, n_name)
         ORDER BY gid, r_name, n_name""",
    "olap_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
                coalesce(CAST(year(o_orderdate) AS BIGINT), -1) AS o_year,
                CAST(GROUPING(o_orderstatus, year(o_orderdate)) AS BIGINT) AS gid,
                count(*) AS cnt,
                sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS total
         FROM orders
         GROUP BY CUBE(o_orderstatus, year(o_orderdate))
         ORDER BY gid, o_orderstatus, o_year""",
    "olap_grouping_sets" ->
      """SELECT coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
                coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
                CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
                count(*) AS cnt,
                sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS total
         FROM orders
         GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
         ORDER BY gid, o_orderpriority, o_orderstatus""",
    "olap_pivot" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  FILTER (o_orderstatus = 'F') / 100.0 AS "F",
                sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  FILTER (o_orderstatus = 'O') / 100.0 AS "O",
                sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  FILTER (o_orderstatus = 'P') / 100.0 AS "P"
         FROM orders GROUP BY 1 ORDER BY o_year""",
    "q17_small_quantity" ->
      """WITH li AS (SELECT l_partkey, l_quantity, l_extendedprice
                     FROM lineitem JOIN part ON l_partkey = p_partkey
                     WHERE p_brand = 'Brand#4'),
         a AS (SELECT l_partkey AS ak, avg(l_quantity) AS avg_qty
               FROM li GROUP BY 1)
         SELECT count(*) AS n_small,
                sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  / 100.0 / 7.0 AS avg_yearly
         FROM li JOIN a ON l_partkey = ak
         WHERE l_quantity < 0.2 * avg_qty""",
    "q15_top_supplier" ->
      """WITH rev AS (SELECT l_suppkey,
                CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                  AS BIGINT) AS rev_bp
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate < TIMESTAMP '1996-04-01'
              GROUP BY 1)
         SELECT s_suppkey, s_name, rev_bp / 10000.0 AS total_revenue
         FROM rev JOIN supplier ON l_suppkey = s_suppkey
         WHERE rev_bp = (SELECT max(rev_bp) FROM rev)
         ORDER BY s_suppkey""",
    "q4_priority_returns" ->
      """SELECT o_orderpriority, count(*) AS n_orders
         FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey
                         AND l_returnflag = 'R')
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "olap_yoy_growth" ->
      """WITH y AS (SELECT o_orderstatus,
                           CAST(year(o_orderdate) AS BIGINT) AS o_year,
                           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                                AS BIGINT) AS cents
                    FROM orders GROUP BY 1, 2)
         SELECT o_orderstatus, o_year, cents / 100.0 AS total,
                round((cents * 1.0 /
                       lag(cents) OVER (PARTITION BY o_orderstatus
                                        ORDER BY o_year) - 1.0) * 100, 4)
                  AS yoy_pct
         FROM y ORDER BY o_orderstatus, o_year""",
    "q18_big_orders" ->
      """WITH big AS (SELECT l_orderkey, round(sum(l_quantity), 4) AS qty
                      FROM lineitem GROUP BY l_orderkey
                      HAVING round(sum(l_quantity), 4) > 300)
         SELECT c_custkey, o_orderkey, o_orderdate,
                CAST(round(o_totalprice * 100) AS BIGINT) / 100.0 AS o_total,
                qty
         FROM orders
         JOIN big ON o_orderkey = l_orderkey
         JOIN customer ON o_custkey = c_custkey
         ORDER BY o_total DESC, o_orderkey LIMIT 100""",
    "q13_custdist" ->
      """WITH pc AS (SELECT c_custkey, count(o_orderkey) AS c_count
                     FROM customer LEFT JOIN (
                       SELECT * FROM orders
                       WHERE o_orderpriority <> '1-URGENT') o
                     ON c_custkey = o_custkey
                     GROUP BY c_custkey)
         SELECT c_count, count(*) AS custdist
         FROM pc GROUP BY c_count
         ORDER BY custdist DESC, c_count DESC""",
    "q22_no_orders" ->
      """WITH c AS (SELECT c_custkey, c_nationkey,
                    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
                    FROM customer),
           t AS (SELECT sum(bal_cents) AS s, count(*) AS n
                 FROM c WHERE bal_cents > 0)
         SELECT c_nationkey, count(*) AS n_cust,
                sum(bal_cents) / 100.0 AS total_bal
         FROM c, t
         WHERE bal_cents * n > s
           AND NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderpriority = '1-URGENT')
         GROUP BY c_nationkey ORDER BY c_nationkey""",
    // the LITERAL correlated form — proves the Scala side's
    // single-aggregation decorrelation
    "q21_waiting_supplier" ->
      """WITH lo AS (SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
                     FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                     WHERE o_orderstatus = 'F'),
           cand AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lo
                    WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY)
         SELECT s_suppkey, s_name, count(*) AS numwait
         FROM cand c JOIN supplier ON s_suppkey = c.l_suppkey
         WHERE EXISTS (SELECT 1 FROM lo
                       WHERE lo.l_orderkey = c.l_orderkey
                         AND lo.l_suppkey <> c.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lo
                           WHERE lo.l_orderkey = c.l_orderkey
                             AND lo.l_suppkey <> c.l_suppkey
                             AND lo.l_shipdate >
                                 lo.o_orderdate + INTERVAL 60 DAY)
         GROUP BY s_suppkey, s_name
         ORDER BY numwait DESC, s_suppkey""",
    "q16_supplier_cnt" ->
      """SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                 WHERE s_acctbal < 0)
         GROUP BY p_brand, p_size
         ORDER BY supplier_cnt DESC, p_brand, p_size""",
    "q6_forecast" ->
      """SELECT count(*) AS n_lines,
                sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * CAST(round(l_discount * 100) AS BIGINT)) / 10000.0 AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_quantity < 24
           AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7""",
    "q7_volume_shipping" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
                CAST(year(l_shipdate) AS BIGINT) AS l_year,
                sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0 AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation sn ON s_nationkey = sn.n_nationkey
         JOIN nation cn ON c_nationkey = cn.n_nationkey
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1998-01-01'
           AND ((sn.n_name = 'NATION_10' AND cn.n_name = 'NATION_12')
             OR (sn.n_name = 'NATION_12' AND cn.n_name = 'NATION_10'))
         GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
    "q8_market_share" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                round(sum(CASE WHEN s_nationkey = 3 THEN vol ELSE 0 END) * 1.0
                      / sum(vol), 4) AS mkt_share,
                sum(vol) / 10000.0 AS total_volume
         FROM (SELECT o_orderdate, s_nationkey,
                      CAST(round(l_extendedprice * 100) AS BIGINT)
                        * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS vol
               FROM lineitem
               JOIN orders ON l_orderkey = o_orderkey
               JOIN supplier ON l_suppkey = s_suppkey
               WHERE l_partkey IN (SELECT p_partkey FROM part
                                   WHERE p_type = 'ECONOMY')
                 AND o_custkey IN (SELECT c_custkey FROM customer
                                   JOIN nation ON c_nationkey = n_nationkey
                                   JOIN region ON n_regionkey = r_regionkey
                                   WHERE r_name = 'ASIA'))
         GROUP BY 1 ORDER BY o_year""",
    "q9_product_profit" ->
      """SELECT n_name AS nation,
                CAST(year(o_orderdate) AS BIGINT) AS o_year,
                sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                      * (100 - CAST(round(l_discount * 100) AS BIGINT))
                    - CAST(round(p_retailprice * 100) AS BIGINT) * 100
                      * CAST(l_quantity AS BIGINT)) / 10000.0 AS profit
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN orders ON l_orderkey = o_orderkey
         WHERE p_name LIKE '%widget%'
         GROUP BY 1, 2 ORDER BY nation, o_year DESC""",
    "q10_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
                CAST(round(c_acctbal * 100) AS BIGINT) / 100.0 AS c_acctbal,
                sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0 AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE l_returnflag = 'R'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1996-04-01'
         GROUP BY 1, 2, 3, 4
         ORDER BY revenue DESC, c_custkey LIMIT 20""",
    "q12_late_lines" ->
      """SELECT l_linestatus AS ship_class,
                CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1998-01-01'
           AND l_shipdate > o_orderdate + INTERVAL 60 DAY
         GROUP BY 1 ORDER BY ship_class""",
    "q14_promo_revenue" ->
      """SELECT round(sum(CASE WHEN p_type = 'PROMO' THEN vol ELSE 0 END)
                      * 100.0 / sum(vol), 4) AS promo_pct,
                sum(vol) / 10000.0 AS total_revenue
         FROM (SELECT p_type,
                      CAST(round(l_extendedprice * 100) AS BIGINT)
                        * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS vol
               FROM lineitem JOIN part ON l_partkey = p_partkey
               WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                 AND l_shipdate < TIMESTAMP '1996-02-01')""",
    "q19_disjunctive" ->
      """SELECT count(*) AS n_lines,
                sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0 AS revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
                AND l_quantity BETWEEN 1 AND 11)
            OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
                AND l_quantity BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
                AND l_quantity BETWEEN 20 AND 30)""",
    // the LITERAL correlated-min form — proves the argmin decorrelation
    "q2_min_cost_supp" ->
      """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
           w AS (SELECT p_partkey, s_name, s_nationkey,
                        CAST(round(s_acctbal * 100) AS BIGINT) AS bal
                 FROM ps
                 JOIN part ON l_partkey = p_partkey
                 JOIN supplier ON l_suppkey = s_suppkey
                 WHERE p_size = 15)
         SELECT bal / 100.0 AS s_acctbal, s_name, n_name, p_partkey
         FROM w JOIN nation ON s_nationkey = n_nationkey
         WHERE bal = (SELECT min(bal) FROM w w2
                      WHERE w2.p_partkey = w.p_partkey)
         ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""",
    // the LITERAL scalar-subquery HAVING form
    "q11_important_stock" ->
      """WITH v AS (SELECT l_partkey AS p_partkey,
                CAST(sum(q * bal) AS BIGINT) AS value
              FROM (SELECT l_partkey, l_suppkey,
                           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
                    FROM lineitem GROUP BY 1, 2) pairs
              JOIN (SELECT s_suppkey,
                           CAST(round(s_acctbal * 100) AS BIGINT) AS bal
                    FROM supplier WHERE s_acctbal > 0) sup
                ON l_suppkey = s_suppkey
              GROUP BY 1)
         SELECT p_partkey, value FROM v
         WHERE value * (SELECT count(*) FROM v) * 2
               > (SELECT sum(value) FROM v) * 3
         ORDER BY value DESC, p_partkey""",
    // the LITERAL doubly-correlated form — proves the decorrelation
    "q20_promotion_parts" ->
      """WITH q AS (SELECT l_partkey, l_suppkey,
                           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
                    FROM lineitem
                    WHERE l_partkey IN (SELECT p_partkey FROM part
                                        WHERE p_name LIKE '%widget%')
                    GROUP BY 1, 2)
         SELECT s_suppkey, s_name FROM supplier
         WHERE s_suppkey IN (
           SELECT l_suppkey FROM q
           WHERE q.q * (SELECT count(*) FROM q q2
                        WHERE q2.l_partkey = q.l_partkey)
                 > 2 * (SELECT sum(q2.q) FROM q q2
                        WHERE q2.l_partkey = q.l_partkey))
         ORDER BY s_suppkey"""
  )
}
