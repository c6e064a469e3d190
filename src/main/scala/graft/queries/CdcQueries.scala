package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{AsofJoin, CurrentState}

/** SURVEY §2.A — the reference's CDC query surface re-expressed on the
  * `events` table (entity = user_id; op mapping signup→INSERT,
  * click/view/purchase→UPDATE, error→DELETE tombstone).
  *
  * Reference behaviors covered: event-type counts (README.md:440-447),
  * ReplacingMergeTree/OPTIMIZE FINAL latest-state
  * (04-optimize-tables.sql:24-48), JSON property extraction
  * (README.md:362, JSONExtractString), monthly partitioning
  * (01-init-tables.sql:19 PARTITION BY toYYYYMM), duplicate validation
  * (04-optimize-tables.sql:65-87), operation mapping
  * (01-init-tables.sql:74-81 multiIf CREATE/UPDATE/DELETE).
  */
object CdcQueries extends QueryPack {

  private val opExpr =
    when(col("event_type") === "signup", "INSERT")
      .when(col("event_type").isin("click", "view", "purchase"), "UPDATE")
      .otherwise("DELETE")

  val queries: Map[String, Q] = Map(
    // A1: events per type — the README's verify-clickhouse query.
    "cdc_event_type_counts" -> ((s, dir) =>
      Tables.load(s, dir, "events")
        .groupBy("event_type").agg(count(lit(1)).as("cnt"))
        .orderBy("event_type")),

    // The reference's verification query VERBATIM shape
    // (test-scenarios/run_tests.py:91): per event type, total events
    // AND distinct entities — count pairs with countDistinct in one
    // hash-agg (distinct rewritten by Catalyst into a two-phase
    // partial agg, still one shuffle keyed on event_type+entity).
    "cdc_verify_counts" -> ((s, dir) =>
      Tables.load(s, dir, "events")
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"),
          count_distinct(col("user_id")).as("n_entities"))
        .orderBy("event_type")),

    // A2: ReplacingMergeTree FINAL — one row per entity, newest wins.
    // Hash-agg max_by (single shuffle, map-side partial agg) instead of
    // a window sort: shuffle payload is ~|entities|, not ~|events|.
    "cdc_latest_state" -> ((s, dir) => {
      val latest = CurrentState.latest(
        Tables.load(s, dir, "events"), "user_id", Seq("ts", "event_id"))
      latest.select(
        col("user_id"),
        col("event_type").as("last_type"),
        unix_micros(col("ts")).as("last_ts_us"),
        round(col("value"), 4).as("last_value"))
        .orderBy("user_id")
    }),

    // A3: latest-state minus DELETE tombstones (entity whose newest
    // event is 'error' is considered deleted).
    "cdc_current_state" -> ((s, dir) => {
      val cur = CurrentState.current(
        Tables.load(s, dir, "events"), "user_id", Seq("ts", "event_id"),
        isTombstone = col("event_type") === "error")
      cur.select(
        col("user_id"),
        col("event_type").as("last_type"),
        unix_micros(col("ts")).as("last_ts_us"))
        .orderBy("user_id")
    }),

    // A4: JSON property extraction + aggregation (JSONExtractString).
    "cdc_props_extract" -> ((s, dir) =>
      Tables.load(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy("event_type")
        .agg(round(avg(col("k")), 4).as("avg_k"),
             count(col("k")).as("n_k"),
             max(col("k")).as("max_k"))
        .orderBy("event_type")),

    // A5: monthly rollup — the toYYYYMM partition key as a query.
    "cdc_monthly_counts" -> ((s, dir) =>
      Tables.load(s, dir, "events")
        .groupBy(date_format(col("ts"), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 4).as("sum_value"))
        .orderBy("month")),

    // A-r8: the ClickHouse `GROUP BY ... WITH TOTALS` / ROLLUP
    // dashboard idiom (VERDICT r7 #4) — event_type x month counts plus
    // per-type subtotals plus the grand total in ONE pass. Spark
    // `rollup` plans this as a single Expand + partial-agg + exchange:
    // subtotal rows ride the same shuffle as the leaves, so the grand
    // total never costs a second scan at 100 TB. `gid` is an explicit
    // grouping(a)*2+grouping(b) (bit conventions differ per engine;
    // computing it term-by-term is engine-portable) and rollup NULLs
    // are coalesced to 'ALL' so totals rows are unambiguous and the
    // driver hash-compare is deterministic even though event_type
    // itself could legitimately contain NULL upstream.
    "cdc_monthly_totals" -> ((s, dir) =>
      Tables.load(s, dir, "events")
        .withColumn("month", date_format(col("ts"), "yyyy-MM"))
        .rollup(col("event_type"), col("month"))
        .agg(
          (grouping(col("event_type")) * 2 + grouping(col("month")))
            .cast("int").as("gid"),
          count(lit(1)).as("cnt"),
          round(sum(col("value")), 4).as("sum_value"))
        .select(
          coalesce(col("event_type"), lit("ALL")).as("event_type"),
          coalesce(col("month"), lit("ALL")).as("month"),
          col("gid"), col("cnt"), col("sum_value"))
        .orderBy("gid", "event_type", "month")),

    // I2 in the driver gate: the reference's OPTIMIZE TABLE ... FINAL
    // materialization — latest-state compacted INTO the monthly
    // parquet layout, read back from disk, and checked against the
    // same ReplacingMergeTree-FINAL oracle as cdc_latest_state. This
    // verifies the whole sink round trip (write partitioned → swap →
    // scan), not just the in-memory aggregation.
    "cdc_compacted" -> ((s, dir) => {
      val path = Staging.once("compact", dir) { p =>
        graft.sinks.ParquetSink.compactToLatest(
          Tables.load(s, dir, "events"), "user_id", Seq("ts", "event_id"),
          "ts", p)
      }
      s.read.parquet(path).select(
          col("user_id"),
          col("event_type").as("last_type"),
          unix_micros(col("ts")).as("last_ts_us"),
          round(col("value"), 4).as("last_value"))
        .orderBy("user_id")
    }),

    // I5 in the driver gate: time-range retention — the monthly layout
    // written, a mid-month range deleted via the boundary-rewrite
    // protocol (staging + rename swap), and the surviving rows read
    // back and reconciled against the base table minus the range.
    "cdc_retention" -> ((s, dir) => {
      val path = Staging.once("retain", dir) { p =>
        graft.sinks.ParquetSink.writeMonthly(
          Tables.load(s, dir, "events"), "ts", p, mode = "overwrite")
        graft.sinks.ParquetSink.deleteTimeRange(s, p, "ts",
          "2024-01-10 00:00:00", "2024-01-20 00:00:00")
      }
      s.read.parquet(path)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 4).as("sum_value"))
        .orderBy("event_type")
    }),

    // A6: duplicate validation — GROUP BY entity HAVING count>1.
    "cdc_dedup_validate" -> ((s, dir) =>
      Tables.load(s, dir, "events")
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("dup_count"))
        .filter(col("dup_count") > 1)
        .orderBy("user_id", "event_type")),

    // A7: raw op string → INSERT/UPDATE/DELETE enum (the materialized
    // view's multiIf), with per-op entity stats.
    "cdc_op_mapping" -> ((s, dir) =>
      Tables.load(s, dir, "events")
        .withColumn("op", opExpr)
        .groupBy("op")
        .agg(count(lit(1)).as("cnt"),
             countDistinct(col("user_id")).as("n_entities"))
        .orderBy("op")),

    // A8: snapshot load — a source table turned into SNAPSHOT event
    // records (the initial-load bulk import shape).
    "snapshot_load" -> ((s, dir) =>
      graft.sources.Snapshot.fromTable(
          Tables.load(s, dir, "customer"),
          entityCol = "c_custkey", labelCols = Seq("c_mktsegment"),
          asOf = to_timestamp(lit("2026-01-01 00:00:00")))
        .select(col("entity_id"), col("event_type"),
                col("labels")(0).as("label0"))
        .orderBy("entity_id")),

    // Time travel — state of every entity AS OF a timestamp: the
    // ReplacingMergeTree FINAL reconstruction with an upper time
    // bound (what "rewind the CDC log to T" means). Same single
    // hash-agg shape as cdc_latest_state; the ts predicate reaches
    // the scan, so at 100 TB with the monthly layout whole later
    // partitions are pruned before the agg even runs.
    "cdc_state_asof" -> ((s, dir) => {
      val asOf = "2024-01-15 00:00:00"
      val latest = CurrentState.latest(
        Tables.load(s, dir, "events")
          .filter(col("ts") <= to_timestamp(lit(asOf))),
        "user_id", Seq("ts", "event_id"))
      latest.select(
        col("user_id"),
        col("event_type").as("type_asof"),
        unix_micros(col("ts")).as("ts_us"))
        .orderBy("user_id")
    }),

    // ClickHouse `LIMIT n BY key` — the per-entity recent feed
    // (cdc_recent_events is its global-top-10 twin): newest 3 events
    // per user via CurrentState.topN. One hash exchange + local
    // per-key sort; the rank filter trims to ≤3 rows/user in-plan.
    "cdc_recent_by_user" -> ((s, dir) =>
      CurrentState.topN(
        Tables.load(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("ts_us")),
        "user_id", Seq("ts_us", "event_id"), n = 3)
        .orderBy("user_id", "rk")),

    // General ASOF JOIN (cdc_state_asof is the scalar-T special case):
    // every event annotated with the newest purchase at-or-before it
    // by the same user — last-touch attribution. The right side is
    // pre-aggregated to unique (user, ts) (the operator's determinism
    // precondition); the oracle is DuckDB's NATIVE ASOF LEFT JOIN, so
    // the union+running-window plan is checked against a real
    // range-scan as-of implementation, row for row.
    "cdc_asof_attribution" -> ((s, dir) => {
      val events = Tables.load(s, dir, "events")
      val purchases = events.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("pts"),
          round(col("value"), 4).as("pv"))
        .groupBy("user_id", "pts")
        .agg(max(col("pv")).as("purch_value"))
        .withColumn("purch_ts_us", unix_micros(col("pts")))
      AsofJoin.backward(
        events.select(col("event_id"), col("user_id"), col("ts")),
        purchases, Seq("user_id"), "ts", "pts")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("purch_ts_us"), col("purch_value"))
        .orderBy("event_id")
    }),

    // Sessionization — split each entity's event stream on >30 min
    // inactivity gaps and report per-entity session stats. The one
    // window sort here is genuinely required (session boundaries are
    // an ordered scan per entity); partitioning by entity keeps the
    // sort local to each key group — no global sort.
    "cdc_sessionize" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      val gapUs = 30L * 60 * 1000000
      Tables.load(s, dir, "events")
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
        .withColumn("new_sess",
          (col("prev_us").isNull ||
           unix_micros(col("ts")) - col("prev_us") > gapUs).cast("long"))
        .withColumn("sess_id", sum(col("new_sess")).over(w))
        .groupBy("user_id")
        .agg(max(col("sess_id")).as("n_sessions"),
             count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }),

    // Point lookup — the README's "find a specific node" monitoring
    // query (README.md:360-365: has(labels,'Device') + JSON property
    // equality, newest event first, LIMIT 1). Here: newest matching
    // event for a type + JSON-property predicate, tie-broken by
    // event_id so the single-row result is deterministic. The
    // event_type predicate reaches the parquet scan; the JSON
    // extraction runs only on surviving rows.
    "cdc_point_lookup" -> ((s, dir) =>
      Tables.load(s, dir, "events")
        .filter(col("event_type") === "purchase" &&
                get_json_object(col("props"), "$.k") === "7")
        .agg(max_by(
          struct(col("event_id"), col("user_id"),
                 unix_micros(col("ts")).as("ts_us"),
                 round(col("value"), 4).as("value")),
          struct(col("ts"), col("event_id"))).as("r"))
        .select(col("r.event_id").as("event_id"), col("r.user_id").as("user_id"),
                col("r.ts_us").as("ts_us"), col("r.value").as("value"))
        // a global agg over an empty input emits one all-NULL row,
        // where the oracle's LIMIT 1 emits zero — drop it so a
        // no-match lookup returns no rows on both sides
        .where(col("event_id").isNotNull)),

    // Recency feed — the test harness's "latest N events" inspection
    // (test-scenarios/run_tests.py:97: ORDER BY event_timestamp DESC
    // LIMIT 10), tie-broken on event_id for determinism. A global
    // top-k, not a global sort: Spark's TakeOrderedAndProject keeps
    // k rows per partition and merges — no full-data sort/exchange.
    "cdc_recent_events" -> ((s, dir) =>
      Tables.load(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
                unix_micros(col("ts")).as("ts_us"))
        .orderBy(col("ts_us").desc, col("event_id").desc)
        .limit(10)),

    // Reconciliation — the README's source-vs-sink validation
    // (README.md:318-321: UNION ALL of node and relationship counts).
    // Each side is a metadata-only parquet count; the union is two
    // scalar rows regardless of SF.
    "validate_counts" -> ((s, dir) => {
      val nodes = Tables.load(s, dir, "customer")
        .agg(count(lit(1)).as("cnt")).select(lit("Nodes").as("kind"), col("cnt"))
      val rels = Tables.load(s, dir, "orders")
        .agg(count(lit(1)).as("cnt")).select(lit("Relationships").as("kind"), col("cnt"))
      nodes.unionAll(rels).orderBy("kind")
    }),

    // I3/I3b/I1-as-oracle: snapshot round trips through THREE real
    // transports — staged CSV (the reference's initial-load shape,
    // 03-bulk-import.py nodes CSV), native ORC, and a REAL JDBC store
    // (embedded Derby; same writer surface as ClickHouse, only
    // url/driver options differ). Each lands the customer table,
    // reads it back through the transport, emits SNAPSHOT records,
    // and must hash-match the original table. The write is the round
    // trip being timed, so it runs every time, never once per JVM.
    // NOTE: unlike the other entries these builders run eager
    // side-effecting IO (staging writes / a JDBC table overwrite) —
    // rendering their plans (graft.Harness plans) runs that IO too, as
    // Verify does.
    "snapshot_csv" -> ((s, dir) => {
      val src = snapshotSource(s, dir)
      val staging = Staging.path("csv", dir)
      src.write.mode("overwrite").option("header", "true").csv(staging)
      snapshotProjection(graft.sources.Snapshot.fromCsv(s, staging, src.schema,
        entityCol = "c_custkey", labelCols = Seq("c_mktsegment"),
        asOf = snapshotAsOf))
    }),

    "snapshot_jdbc" -> ((s, dir) => {
      val opts = Derby.options("graftq", "snapshot_src")
      // overwrite keeps the entry idempotent across verify/bench re-runs
      graft.sinks.JdbcSink.writer(snapshotSource(s, dir), opts)
        .mode("overwrite").save()
      snapshotProjection(graft.sources.Snapshot.fromTable(
        graft.sinks.JdbcSink.read(s, opts),
        entityCol = "c_custkey", labelCols = Seq("c_mktsegment"),
        asOf = snapshotAsOf))
    }),

    "snapshot_orc" -> ((s, dir) => {
      val staging = Staging.path("orc", dir)
      snapshotSource(s, dir).write.mode("overwrite").orc(staging)
      snapshotProjection(graft.sources.Snapshot.fromOrc(s, staging,
        entityCol = "c_custkey", labelCols = Seq("c_mktsegment"),
        asOf = snapshotAsOf))
    }),

    // ClickHouse windowFunnel analog: signup → click → purchase within
    // a 4 h window, maximized over all chain starts (the CH default
    // mode pinned to a total (ts, event_id) order so equal-timestamp
    // events chain deterministically). The oracle recomputes the
    // exists-any-chain semantics by explicit join — the Spark side's
    // single-sweep DP must agree user-for-user for the level histogram
    // to hash-match.
    "cdc_funnel" -> ((s, dir) => {
      val lv = graft.operators.Funnel.windowFunnel(
        Tables.load(s, dir, "events"), "user_id", "ts", "event_id",
        Seq(col("event_type") === "signup", col("event_type") === "click",
          col("event_type") === "purchase"),
        windowMicros = 4L * 3600 * 1000000)
      lv.groupBy("level").agg(count(lit(1)).as("n_users")).orderBy("level")
    }),

    // A-funnel (r14): time-to-convert — the funnel's companion metric
    // (ClickHouse funnel analyses report step LATENCIES, not just
    // level counts). Leftmost chain via chained min-joins (the
    // sequence_match oracle shape, strict ts increase): t1 = first
    // signup, t2 = first click after t1, t3 = first purchase after
    // t2; averages are EXACT integer micros via floor-div (`div`),
    // so no float rounding anywhere. Each step is one equi-join on
    // user_id + a map-side-combinable min-agg; the summary is three
    // broadcast scalar rows.
    "cdc_funnel_times" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val t1 = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("us")).as("t1"))
      val t2 = ev.filter(col("event_type") === "click")
        .join(t1, "user_id").filter(col("us") > col("t1"))
        .groupBy("user_id", "t1").agg(min(col("us")).as("t2"))
      val t3 = ev.filter(col("event_type") === "purchase")
        .join(t2.select("user_id", "t2"), "user_id")
        .filter(col("us") > col("t2"))
        .groupBy("user_id", "t2").agg(min(col("us")).as("t3"))
      val a1 = t1.agg(count(lit(1)).as("n1"))
      val a2 = t2.agg(count(lit(1)).as("n2"),
        sum(col("t2") - col("t1")).as("s12"))
      val a3 = t3.agg(count(lit(1)).as("n3"),
        sum(col("t3") - col("t2")).as("s23"))
      a1.crossJoin(broadcast(a2)).crossJoin(broadcast(a3))
        .select(col("n1"), col("n2"), col("n3"),
          expr("if(n2 > 0, s12 div n2, null)").as("avg12_us"),
          expr("if(n3 > 0, s23 div n3, null)").as("avg23_us"))
    }),

    // windowFunnel in strict_increase mode: equal-ts events never
    // chain (the default mode lets them chain in (ts, tie) order).
    // Same histogram shape as cdc_funnel; the oracle's explicit join
    // uses strict `<` between consecutive steps, so the two entries
    // bracket the mode difference end-to-end.
    "cdc_funnel_strict" -> ((s, dir) => {
      val lv = graft.operators.Funnel.windowFunnelStrictIncrease(
        Tables.load(s, dir, "events"), "user_id", "ts", "event_id",
        Seq(col("event_type") === "signup", col("event_type") === "click",
          col("event_type") === "purchase"),
        windowMicros = 4L * 3600 * 1000000)
      lv.groupBy("level").agg(count(lit(1)).as("n_users")).orderBy("level")
    }),

    // ClickHouse retention analog: cohort flags (did signup; signup ∧
    // click; signup ∧ purchase) summed to the cohort report row.
    "cdc_retention_cohort" -> ((s, dir) => {
      val r = graft.operators.Funnel.retention(
        Tables.load(s, dir, "events"), "user_id",
        Seq(col("event_type") === "signup", col("event_type") === "click",
          col("event_type") === "purchase"))
      r.agg(sum(when(col("r1"), 1L).otherwise(0L)).as("n_r1"),
        sum(when(col("r2"), 1L).otherwise(0L)).as("n_r2"),
        sum(when(col("r3"), 1L).otherwise(0L)).as("n_r3"))
    }),

    // ClickHouse sequenceMatch analog — the window-free member of the
    // event-sequence trio, with JSON-property step predicates (steps
    // are arbitrary Columns, not just type tags): signup, then a
    // purchase carrying prop k=7, then an error carrying k=13, in
    // order. The property predicates keep the cohort non-degenerate —
    // plain type chains all match over a month of dense activity.
    "cdc_sequence_match" -> ((s, dir) => {
      val m = graft.operators.Funnel.sequenceMatch(
        Tables.load(s, dir, "events"), "user_id", "ts", "event_id",
        Seq(col("event_type") === "signup",
          col("event_type") === "purchase" &&
            get_json_object(col("props"), "$.k") === "7",
          col("event_type") === "error" &&
            get_json_object(col("props"), "$.k") === "13"))
      m.groupBy("matched").agg(count(lit(1)).as("n_users"))
        .orderBy("matched")
    }),

    // ClickHouse sequenceCount analog: non-overlapping
    // signup → click → purchase chains per user (leftmost-greedy),
    // reported as the per-count user distribution. The oracle
    // recomputes the greedy with a recursive chained-min CTE — both
    // sides must agree on every user's count for the distribution to
    // hash-match.
    "cdc_sequence_count" -> ((s, dir) =>
      graft.operators.Funnel.sequenceCount(
        Tables.load(s, dir, "events"), "user_id", "ts", "event_id",
        Seq(col("event_type") === "signup", col("event_type") === "click",
          col("event_type") === "purchase"))
        .groupBy("n_matches").agg(count(lit(1)).as("n_users"))
        .orderBy("n_matches")),

    // ClickHouse histogram analog: fixed 8-bin value distribution per
    // event type over that type's [min, max]. The bin formula —
    // least(7, floor((v − lo) · 8.0 / (hi − lo))) — is written with
    // the IDENTICAL operation order on both engines: all inputs and
    // intermediates are IEEE doubles, so identical op sequences give
    // identical bins and the count-per-bin hash compare is exact.
    // Plan: 5-row bounds aggregate broadcast back onto the scan, one
    // hash agg — two passes over events, no sort.
    "cdc_value_histogram" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val bounds = ev.groupBy("event_type")
        .agg(min("value").as("lo"), max("value").as("hi"))
      ev.join(broadcast(bounds), "event_type")
        .select(col("event_type"),
          when(col("hi") === col("lo"), lit(0L)).otherwise(
            least(lit(7L),
              floor((col("value") - col("lo")) * lit(8.0) /
                (col("hi") - col("lo"))))).as("bin"))
        .groupBy("event_type", "bin").agg(count(lit(1)).as("n"))
        .orderBy("event_type", "bin")
    }),

    // Daily-volume anomaly gate — the operational extension of
    // validate_counts: flag (event_type, day) whose count deviates
    // > 3σ from the TRAILING 7-day baseline (RANGE frame on calendar
    // day distance, current day excluded, ≥ 3 baseline days). The 3σ
    // test is evaluated in integer arithmetic — (n·cnt − S)²·(n−1) >
    // 9·n·(n·Q − S²) with S=Σx, Q=Σx² over the window, the
    // multiplied-out sample-variance inequality — so the verdict bit
    // cannot flip on engine-specific float rounding; products stay
    // double-exact below 2^53 (counts to ~10⁶/day; beyond that the
    // same test runs in decimal). One shuffle on event_type for the
    // window, after the daily rollup has already collapsed the data.
    "cdc_anomaly_daily" -> ((s, dir) => {
      val daily = Tables.load(s, dir, "events")
        .groupBy(col("event_type"),
          date_trunc("day", col("ts")).cast("date").as("day"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("d", datediff(col("day"), lit("1970-01-01").cast("date")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("d")
        .rangeBetween(-7, -1)
      daily
        .withColumn("n_base", count(lit(1)).over(w))
        .withColumn("s_base", sum(col("cnt")).over(w))
        .withColumn("q_base", sum(col("cnt") * col("cnt")).over(w))
        .filter(col("n_base") >= 3)
        .withColumn("dev", col("n_base") * col("cnt") - col("s_base"))
        .select(col("event_type"),
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("cnt"), col("n_base"),
          (col("dev") * col("dev") * (col("n_base") - 1) >
            lit(9L) * col("n_base") *
              (col("n_base") * col("q_base") - col("s_base") * col("s_base")))
            .as("anomaly"))
        .orderBy("event_type", "day")
    }),

    // ClickHouse `ORDER BY … WITH FILL` analog: a SPARSE daily series
    // (the k=7 property cohort — sparse by construction, so missing
    // days genuinely exist) densified to zero rows over the global
    // [min, max] day span. The grid is |types| × |span days| rows
    // built from two scalar aggregates — at 100 TB the fill cost is a
    // function of the CALENDAR, not the data; the left join's right
    // side is the already-collapsed daily rollup (broadcastable).
    "cdc_daily_filled" -> ((s, dir) => {
      val sparse = Tables.load(s, dir, "events")
        .filter(get_json_object(col("props"), "$.k") === "7" &&
                col("user_id") % 5 === 2)
        .select(col("event_type"),
          floor(unix_micros(col("ts")) / 86400000000L).cast("long").as("d"))
      val counts = sparse.groupBy("event_type", "d")
        .agg(count(lit(1)).as("cnt"))
      val span = sparse.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      val grid = span
        .select(explode(sequence(col("d0"), col("d1"))).as("d"))
        .crossJoin(sparse.select("event_type").distinct())
      grid.join(counts, Seq("event_type", "d"), "left")
        .select(col("event_type"), col("d").as("day_idx"),
          coalesce(col("cnt"), lit(0L)).as("cnt"))
        .orderBy("event_type", "day_idx")
    }),

    // windowFunnel in strict_order mode: chain steps must be
    // CONSECUTIVE events in the user's stream — any intervening event
    // interrupts; reached levels are retained. Oracle rebuilds the
    // semantics independently via row_number adjacency joins.
    "cdc_funnel_strict_order" -> ((s, dir) => {
      val lv = graft.operators.Funnel.windowFunnelStrictOrder(
        Tables.load(s, dir, "events"), "user_id", "ts", "event_id",
        Seq(col("event_type") === "signup", col("event_type") === "click",
          col("event_type") === "purchase"),
        windowMicros = 4L * 3600 * 1000000)
      lv.groupBy("level").agg(count(lit(1)).as("n_users")).orderBy("level")
    }),

    // Statistical aggregate surface (ClickHouse corr / covarPop /
    // stddevPop): per-type relationship between the event value and
    // the JSON k property. Both engines use numerically-stable
    // one-pass moments; 4-dp rounding absorbs the sub-ulp formula
    // differences (same stance as every float oracle here).
    "cdc_value_stats" -> ((s, dir) =>
      Tables.load(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("double"))
        .filter(col("k").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(corr(col("value"), col("k")), 4).as("corr_vk"),
          round(covar_pop(col("value"), col("k")), 4).as("covar_vk"),
          round(stddev_pop(col("value")), 4).as("stddev_v"))
        .orderBy("event_type")),

    // A-dash (r14): day-grain cohort retention matrix — the classic
    // triangle report (cohort day × day offset → retained users).
    // Per-user cohort day is one min-agg; the matrix is one distinct
    // per (user, active day) then a (cohort, offset) rollup — exact
    // integer day arithmetic via floor-div on epoch micros, both
    // engines. Output is |days|² cells at most, tiny at any scale.
    "cdc_cohort_matrix" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
      val cohort = ev.groupBy("user_id").agg(min(col("day")).as("c_day"))
      ev.distinct()
        .join(cohort, "user_id")
        .groupBy(col("c_day"), (col("day") - col("c_day")).as("day_offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("c_day", "day_offset")
    }),

    // A-dash (r14): DAU/MAU stickiness — the product-analytics
    // engagement ratio (avg daily actives over monthly actives, per
    // month). Two distinct-count aggregates (both map-side partial
    // via Expand) + a tiny per-month rollup; every division is the
    // same IEEE op tree on both engines over exact integer counts.
    "cdc_stickiness" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(date_format(col("ts"), "yyyy-MM").as("month"),
          to_date(col("ts")).as("day"), col("user_id"))
      val daily = ev.groupBy("month", "day")
        .agg(countDistinct(col("user_id")).as("dau"))
      val monthly = ev.groupBy("month")
        .agg(countDistinct(col("user_id")).as("mau"))
      daily.groupBy("month")
        .agg(count(lit(1)).as("n_days"), sum(col("dau")).as("sum_dau"))
        .join(monthly, "month")
        .select(col("month"), col("n_days"), col("mau"),
          round(col("sum_dau") * lit(1.0) / col("n_days"), 4).as("avg_dau"),
          round((col("sum_dau") * lit(1.0) / col("n_days")) / col("mau"), 4)
            .as("stickiness"))
        .orderBy("month")
    }),

    // A-dash (r14): EXACT per-type value quantiles — the verification
    // tier of the percentile surface (the KLL sketch entry is the
    // 100 TB path: exact percentile buffers each group's values on
    // its reducer, which is fine at report-group cardinality and
    // wrong for billion-row groups). Spark's percentile() and
    // DuckDB's quantile_cont share the rank = p·(n−1) linear
    // interpolation, so 4-dp rounding holds across engines.
    "cdc_value_quantiles" -> ((s, dir) =>
      Tables.load(s, dir, "events")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          percentile(col("value"),
            array(lit(0.25), lit(0.5), lit(0.75), lit(0.95))).as("q"))
        .select(col("event_type"), col("n"),
          round(element_at(col("q"), 1), 4).as("q25"),
          round(element_at(col("q"), 2), 4).as("q50"),
          round(element_at(col("q"), 3), 4).as("q75"),
          round(element_at(col("q"), 4), 4).as("q95"))
        .orderBy("event_type")),

    // A-dash (r14): RFM segmentation — the classic lifecycle report
    // (recency / frequency / monetary rolled into threshold cells).
    // One map-side-combinable per-user aggregate (the shuffle carries
    // |users| rows of 3 longs), the corpus reference instant as a
    // broadcast scalar, then a tiny cell rollup. Recency is EXACT
    // integer micros → floor-div hours (`div`, not `/`: double
    // division + truncation can flip at exact hour boundaries where
    // DuckDB's BIGINT `//` cannot); money is exact integer cents.
    "cdc_rfm" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val ref = ev.agg(max(unix_micros(col("ts"))).as("ref_us"))
      ev.groupBy("user_id")
        .agg(max(unix_micros(col("ts"))).as("last_us"),
          count(lit(1)).as("freq"),
          sum(round(col("value") * 100).cast("long")).as("m_cents"))
        .crossJoin(broadcast(ref))
        .withColumn("rec_h",
          expr("(ref_us - last_us) div 3600000000"))
        .withColumn("segment", concat(
          when(col("rec_h") < 24, lit("R1")).otherwise(lit("R0")),
          when(col("freq") >= 67, lit("F1")).otherwise(lit("F0")),
          when(col("m_cents") >= 330000L, lit("M1")).otherwise(lit("M0"))))
        .groupBy("segment")
        .agg(count(lit(1)).as("n_users"),
          (sum(col("m_cents")) / 100.0).as("total_value"),
          sum(col("freq")).as("n_events"))
        .orderBy("segment")
    }),

    // ClickHouse intervalLengthSum analog: per-user ACTIVE TIME — the
    // union length of 30-minute activity windows around each event
    // (overlaps counted once; a plain sum(len) double-counts bursts).
    // One shuffle on user_id + per-user window sort (Intervals.scala).
    "cdc_active_time" -> ((s, dir) => {
      val iv = Tables.load(s, dir, "events").select(col("user_id"),
        unix_micros(col("ts")).as("s_us"),
        (unix_micros(col("ts")) + 1800000000L).as("e_us"))
      graft.operators.Intervals.coverage(iv, Seq("user_id"), "s_us", "e_us",
          as = "active_us")
        .orderBy("user_id")
    }),

    // runningDifference + deltaSum analogs on the daily volume series:
    // day-over-day delta per type (lag window; first day's delta is
    // NULL, matching runningDifference's leading row) and the per-type
    // sum of positive deltas (deltaSum — total upward movement). Two
    // window passes over the ALREADY-COLLAPSED |types × days| rollup;
    // the raw stream is touched once by the count.
    "cdc_daily_delta" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.load(s, dir, "events")
        .groupBy(col("event_type"),
          floor(unix_micros(col("ts")) / 86400000000L).cast("long").as("d"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("event_type").orderBy("d")
      val wType = Window.partitionBy("event_type")
      daily.withColumn("delta", col("cnt") - lag(col("cnt"), 1).over(w))
        .withColumn("delta_sum_pos",
          sum(when(col("delta") > 0, col("delta")).otherwise(0L))
            .over(wType).cast("long"))
        .select(col("event_type"), col("d").as("day_idx"), col("cnt"),
          col("delta"), col("delta_sum_pos"))
        .orderBy("event_type", "day_idx")
    }),

    // Activity heatmap (r8) — the hour-of-day × day-of-week dashboard
    // matrix every ops console draws. Bucketing is PURE INTEGER
    // arithmetic on epoch micros (day index % 7, hour index % 24 —
    // epoch day 0 is a Thursday, documented; engine calendar
    // conventions for dayofweek() differ between Spark and DuckDB, so
    // neither is used). One hash-agg to a 168-cell rollup.
    "cdc_activity_heatmap" -> ((s, dir) =>
      Tables.load(s, dir, "events")
        .withColumn("us", unix_micros(col("ts")))
        .groupBy(
          (floor(col("us") / 86400000000L) % 7).cast("long").as("dow_idx"),
          (floor(col("us") / 3600000000L) % 24).cast("long").as("hour"))
        // exact-scaled-integer mean (the q1_agg cents discipline): a
        // double avg() over ~60k values/cell landed EXACTLY on a 4dp
        // rounding boundary at 100× and flipped with summation order
        // (green r10, red r11, same code) — the long sum is
        // order-independent and the single double division identical
        // cross-engine
        .agg(count(lit(1)).as("cnt"),
          round(sum(round(col("value") * 10000).cast("long")).cast("double")
            / count(lit(1)) / lit(10000.0), 4).as("avg_value"))
        .orderBy("dow_idx", "hour")),

    // SCD Type-2 history build (r8) — the CDC-warehouse staple the
    // reference's latest-state MV is a projection OF: every event
    // becomes a VERSIONED row with [valid_from, valid_to) and a
    // current flag (valid_to NULL = open version; `cdc_latest_state`
    // is exactly the is_current slice). One window per entity — the
    // same per-entity shuffle+sort contract as sessionize — and at
    // 100 TB the history table is the event stream + 2 columns,
    // landed month-partitioned like every other sink here.
    "cdc_history_scd2" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.load(s, dir, "events")
        .withColumn("version", row_number().over(w).cast("long"))
        .withColumn("valid_from_us", unix_micros(col("ts")))
        .withColumn("valid_to_us", lead(unix_micros(col("ts")), 1).over(w))
        .select(col("user_id"), col("version"), col("event_type"),
          round(col("value"), 4).as("value"),
          col("valid_from_us"), col("valid_to_us"),
          col("valid_to_us").isNull.as("is_current"))
        .orderBy("user_id", "version")
    }),

    // sequenceNextNode analog (r8) — ClickHouse's "what happens AFTER
    // the matched event" path query: for each signup, the entity's
    // immediately-next event type; the result is the distribution of
    // first actions after signup ('(end)' = signup with no successor).
    // lead() rides the SAME per-entity window sort as the funnel
    // suite; the rollup after it is |event types| rows.
    "cdc_next_event" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.load(s, dir, "events")
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("event_type") === "signup")
        .groupBy(coalesce(col("next_type"), lit("(end)")).as("next_type"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("next_type")
    }),

    // groupArray path analysis (r8) — the "top user journeys"
    // dashboard query: each entity's first-3-event type path, counted
    // across entities, top-20. The per-entity path is built
    // ORDER-STABLY without trusting collect_list's arrival order
    // (which shuffles scramble): collect (rn, type) structs, then a
    // codegen'd array_sort (rn is unique per entity ⇒ total order) +
    // transform + concat_ws. Top-20 via TakeOrderedAndProject over
    // the tiny path rollup — never a global sort.
    "cdc_path_counts" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.load(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .groupBy("user_id")
        .agg(concat_ws(">",
          transform(
            array_sort(collect_list(struct(col("rn"), col("event_type")))),
            x => x.getField("event_type"))).as("path"))
        .groupBy("path").agg(count(lit(1)).as("n_users"))
        .orderBy(col("n_users").desc, col("path")).limit(20)
    }),

    // exponentialTimeDecayedAvg analog (r8): smoothed daily value
    // series per type — half-life 7 days over a trailing 30-day RANGE
    // frame. Computed FACTORIZED: the naive weight 0.5^((dcur−d)/7)
    // depends on the CURRENT row, which no window frame can express;
    // but ema = Σ v·w / Σ w with the current-row factor cancelling,
    // so both sums use the pure per-row weight 2^((d−d0)/7) (d0 = the
    // series min, which bounds the exponent to the SERIES SPAN — valid
    // while span/7 < 1024, i.e. spans under ~7000 days / ~19.5 years;
    // past that 2^(span/7) exceeds double range and the ema would go
    // silently NaN/Inf in BOTH engines, so the span is guarded LOUDLY
    // here: a series that long needs the exponent rebased in segments,
    // not a quiet garbage answer — ADVICE r8). Two window sums over
    // the already-collapsed |types × days| rollup.
    // entropy() analog (r9): Shannon entropy of each event type's
    // USER distribution — the ClickHouse entropy aggregate, the
    // standard concentration diagnostic (uniform traffic → ln(users);
    // one bot user → ~0). Two-level exact aggregation: counts per
    // (type, user), then H = ln(n) − Σ c·ln(c) / n in ONE hash-agg —
    // no window, no collect. Natural log on both engines (the
    // text_unigram_ppl parity precedent), 4dp rounding absorbs libm +
    // sum-order ulps.
    "cdc_user_entropy" -> ((s, dir) =>
      Tables.load(s, dir, "events")
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("event_type"))
        .agg(sum(col("c")).as("n"),
          count(lit(1)).cast("long").as("n_users"),
          sum(col("c").cast("double") * log(col("c").cast("double")))
            .as("slc"))
        .select(col("event_type"), col("n").cast("long").as("n_events"),
          col("n_users"),
          round(log(col("n").cast("double")) - col("slc") / col("n"), 4)
            .as("entropy_nats"))
        .orderBy("event_type")),

    "cdc_value_ema" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.load(s, dir, "events")
        .groupBy(col("event_type"),
          floor(unix_micros(col("ts")) / 86400000000L).cast("long").as("d"))
        .agg(sum(col("value")).as("v"))
      val wT = Window.partitionBy("event_type")
      val w = Window.partitionBy("event_type").orderBy("d")
        .rangeBetween(-30, 0)
      daily
        // the guard lives INSIDE g's expression tree (a dropped helper
        // column would be pruned away with the check it carries)
        .withColumn("g", when(
          max(col("d")).over(wT) - min(col("d")).over(wT) > 7000,
          raise_error(concat(lit("cdc_value_ema: series span "),
            (max(col("d")).over(wT) - min(col("d")).over(wT)).cast("string"),
            lit(" days exceeds the 2^(span/7) double-overflow bound " +
              "(~7100 days); rebase the exponent in segments for " +
              "multi-decade series"))).cast("double"))
          .otherwise(pow(lit(2.0),
            (col("d") - min(col("d")).over(wT)).cast("double") / lit(7.0))))
        .withColumn("ema",
          sum(col("v") * col("g")).over(w) / sum(col("g")).over(w))
        .select(col("event_type"), col("d").as("day_idx"),
          round(col("v"), 4).as("v"), round(col("ema"), 4).as("ema"))
        .orderBy("event_type", "day_idx")
    }),

    // largestTriangleThreeBuckets analog (r8) — ClickHouse's dashboard
    // downsampler: shrink each type's daily series to ≤ 10 visually-
    // representative points (first + last kept; each middle bucket
    // keeps its largest-triangle point). DELIBERATE variant: anchors
    // are the NEIGHBOR BUCKET AVERAGES on both sides (the LTTB
    // paper's fixed-anchor simplification) rather than the previously
    // selected point — exact LTTB is a sequential fold over buckets,
    // while fixed anchors make every bucket's argmax independent, i.e.
    // order-parallel: the 100 TB shape (and SQL-expressible, so the
    // oracle replays it exactly). Selection arithmetic is ALL INTEGER:
    // the triangle area is multiplied through by the anchor counts
    // (area·cA²·cC), x is rebased per series, so the per-bucket argmax
    // can never flip on a float ulp in either engine.
    "cdc_lttb" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val nb = 10 // target points: first + last + (nb−2) buckets
      val wT = Window.partitionBy("event_type")
      val wR = Window.partitionBy("event_type").orderBy("dabs")
      val pts = Tables.load(s, dir, "events")
        .groupBy(col("event_type"),
          floor(unix_micros(col("ts")) / 86400000000L).cast("long").as("dabs"))
        .agg(count(lit(1)).as("y"))
        .withColumn("x", col("dabs") - min(col("dabs")).over(wT))
        .withColumn("rn", row_number().over(wR))
        .withColumn("n", count(lit(1)).over(wT))
      val firstPt = pts.filter(col("rn") === 1)
        .select(col("event_type"), col("x").as("fx"), col("y").as("fy"))
      // n = 1: the single point IS the series — it already rides
      // firstPt, and emitting it from lastPt too would duplicate the
      // row (ADVICE r8; the exact variant's short-series passthrough
      // has the same guard built in)
      val lastPt = pts.filter(col("rn") === col("n") && col("n") > 1)
        .select(col("event_type"), col("x").as("lx"), col("y").as("ly"))
      val mid = pts.filter(col("rn") > 1 && col("rn") < col("n"))
        .withColumn("b",
          least(floor((col("rn") - 2) * (nb - 2) / (col("n") - 2)),
            lit((nb - 3).toLong)))
      val wB = Window.partitionBy("event_type").orderBy("b")
      val anch = mid.groupBy("event_type", "b")
        .agg(sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          count(lit(1)).as("c"))
        .withColumn("paxs", lag(col("sx"), 1).over(wB))
        .withColumn("pays", lag(col("sy"), 1).over(wB))
        .withColumn("pac", lag(col("c"), 1).over(wB))
        .withColumn("nxs", lead(col("sx"), 1).over(wB))
        .withColumn("nys", lead(col("sy"), 1).over(wB))
        .withColumn("nc", lead(col("c"), 1).over(wB))
        .join(firstPt, "event_type").join(lastPt, "event_type")
        .select(col("event_type"), col("b"),
          coalesce(col("paxs"), col("fx")).as("axs"),
          coalesce(col("pays"), col("fy")).as("ays"),
          coalesce(col("pac"), lit(1L)).as("ac"),
          coalesce(col("nxs"), col("lx")).as("cxs"),
          coalesce(col("nys"), col("ly")).as("cys"),
          coalesce(col("nc"), lit(1L)).as("cc"))
      val wPick = Window.partitionBy("event_type", "b")
        .orderBy(col("e").desc, col("x"))
      val picked = mid.join(anch, Seq("event_type", "b"))
        .withColumn("e", abs(
          (col("axs") * col("cc") - col("cxs") * col("ac")) *
            (col("y") * col("ac") - col("ays")) -
          (col("axs") - col("x") * col("ac")) *
            (col("cys") * col("ac") - col("ays") * col("cc"))))
        .withColumn("pk", row_number().over(wPick)).filter(col("pk") === 1)
        .select(col("event_type"), col("x"), col("y"))
      firstPt.select(col("event_type"), col("fx").as("x"), col("fy").as("y"))
        .unionByName(picked)
        .unionByName(lastPt.select(col("event_type"),
          col("lx").as("x"), col("ly").as("y")))
        .select(col("event_type"), col("x").as("day_off"), col("y").as("cnt"))
        .orderBy("event_type", "day_off")
    }),

    // EXACT largestTriangleThreeBuckets (r8) — the true sequential
    // ClickHouse/paper semantics (each bucket's pick forms its
    // triangle with the PREVIOUSLY SELECTED point), complementing the
    // order-parallel fixed-anchor variant above. operators/Lttb.exact
    // runs the greedy as nOut−2 chained relational steps — the
    // sequential dimension is the BUCKET COUNT, a constant, never the
    // series length/count — and the all-integer area arithmetic makes
    // the greedy exactly replayable: the oracle re-runs it as chained
    // pick CTEs.
    "cdc_lttb_exact" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wT = Window.partitionBy("event_type")
      val daily = Tables.load(s, dir, "events")
        .groupBy(col("event_type"),
          floor(unix_micros(col("ts")) / 86400000000L).cast("long").as("dabs"))
        .agg(count(lit(1)).as("y"))
        .withColumn("x", col("dabs") - min(col("dabs")).over(wT))
        .select("event_type", "x", "y")
      graft.operators.Lttb.exact(daily, Seq("event_type"), "x", "y", nOut = 10)
        .select(col("event_type"), col("x").as("day_off"), col("y").as("cnt"))
        .orderBy("event_type", "day_off")
    })
  )

  /** One sequential-LTTB pick CTE (oracle twin of Lttb.exact's step
    * b): argmax of the integer triangle area over bucket b's points,
    * conditioned on the previous step's pick. MATERIALIZED — each
    * step is referenced by the next AND the final union. */
  private def lttbPick(b: Int): String = {
    val prev =
      if (b == 0) "SELECT event_type, fx AS px, fy AS py FROM firstpt"
      else s"SELECT event_type, x AS px, y AS py FROM p${b - 1}"
    s"""p$b AS MATERIALIZED (
          SELECT event_type, x, y FROM (
            SELECT m.event_type, m.x, m.y,
                   row_number() OVER (PARTITION BY m.event_type ORDER BY
                     abs((p.px * a.cc - a.cxs) * (m.y - p.py)
                       - (p.px - m.x) * (a.cys - p.py * a.cc)) DESC, m.x) AS pk
            FROM mid m JOIN ($prev) p USING (event_type)
                       JOIN anch a ON a.event_type = m.event_type AND a.b = m.b
            WHERE m.b = $b) WHERE pk = 1)"""
  }

  private def snapshotSource(s: org.apache.spark.sql.SparkSession,
                             dir: String) =
    Tables.load(s, dir, "customer")
      .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")

  private def snapshotAsOf = to_timestamp(lit("2026-01-01 00:00:00"))

  /** The shared round-trip output contract (one definition, three
    * transports — csv/orc/jdbc all hash against [[snapshotOracleSql]]). */
  private def snapshotProjection(df: org.apache.spark.sql.DataFrame) =
    df.select(col("entity_id").cast("long").as("entity_id"),
        col("event_type"), col("labels")(0).as("label0"),
        get_json_object(col("properties_after"), "$.c_name").as("name"),
        round(get_json_object(col("properties_after"), "$.c_acctbal")
          .cast("double"), 2).as("acctbal"))
      .orderBy("entity_id")

  private val snapshotOracleSql =
    """SELECT c_custkey AS entity_id, 'SNAPSHOT' AS event_type,
              c_mktsegment AS label0, c_name AS name,
              round(c_acctbal, 2) AS acctbal
       FROM customer ORDER BY entity_id"""

  val oracles: Map[String, String] = Map(
    "cdc_event_type_counts" ->
      "SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type ORDER BY event_type",
    "cdc_verify_counts" ->
      """SELECT event_type, count(*) AS cnt,
                count(DISTINCT user_id) AS n_entities
         FROM events GROUP BY event_type ORDER BY event_type""",
    // newest-wins ordering pinned to MICROsecond precision (epoch_us)
    // on the oracle side too: Spark floors the nanos timestamp to
    // micros at load, so ordering by raw nanos here could tie-break
    // differently if data ever carries sub-microsecond precision.
    "cdc_latest_state" ->
      """SELECT user_id, event_type AS last_type, epoch_us(ts) AS last_ts_us, round(value, 4) AS last_value
         FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn FROM events)
         WHERE rn = 1 ORDER BY user_id""",
    "cdc_current_state" ->
      """SELECT user_id, event_type AS last_type, epoch_us(ts) AS last_ts_us
         FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn FROM events)
         WHERE rn = 1 AND event_type <> 'error' ORDER BY user_id""",
    // TRY_CAST mirrors Spark's cast-to-null on non-numeric JSON values
    // (a plain CAST would make DuckDB error out instead).
    "cdc_props_extract" ->
      """SELECT event_type,
                round(avg(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)), 4) AS avg_k,
                count(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)) AS n_k,
                max(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
         FROM events GROUP BY event_type ORDER BY event_type""",
    "cdc_monthly_counts" ->
      """SELECT strftime(ts, '%Y-%m') AS month, count(*) AS cnt, round(sum(value), 4) AS sum_value
         FROM events GROUP BY 1 ORDER BY 1""",
    "cdc_monthly_totals" ->
      """SELECT coalesce(event_type, 'ALL') AS event_type,
                coalesce(month, 'ALL') AS month,
                CAST(GROUPING(event_type) * 2 + GROUPING(month) AS INTEGER) AS gid,
                count(*) AS cnt,
                round(sum(value), 4) AS sum_value
         FROM (SELECT event_type, strftime(ts, '%Y-%m') AS month, value
               FROM events)
         GROUP BY ROLLUP (event_type, month)
         ORDER BY gid, event_type, month""",
    "cdc_dedup_validate" ->
      """SELECT user_id, event_type, count(*) AS dup_count FROM events
         GROUP BY user_id, event_type HAVING count(*) > 1 ORDER BY user_id, event_type""",
    "cdc_compacted" ->
      """SELECT user_id, event_type AS last_type, epoch_us(ts) AS last_ts_us, round(value, 4) AS last_value
         FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn FROM events)
         WHERE rn = 1 ORDER BY user_id""",
    "cdc_retention" ->
      """SELECT event_type, count(*) AS cnt, round(sum(value), 4) AS sum_value
         FROM events
         WHERE NOT (ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00')
            OR ts IS NULL
         GROUP BY event_type ORDER BY event_type""",
    "cdc_op_mapping" ->
      """SELECT CASE WHEN event_type = 'signup' THEN 'INSERT'
                     WHEN event_type IN ('click','view','purchase') THEN 'UPDATE'
                     ELSE 'DELETE' END AS op,
                count(*) AS cnt, count(DISTINCT user_id) AS n_entities
         FROM events GROUP BY 1 ORDER BY 1""",
    "cdc_state_asof" ->
      """SELECT user_id, event_type AS type_asof, epoch_us(ts) AS ts_us
         FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
               FROM events WHERE ts <= TIMESTAMP '2024-01-15 00:00:00')
         WHERE rn = 1 ORDER BY user_id""",
    "cdc_recent_by_user" ->
      """SELECT event_id, user_id, event_type, ts_us, rk
         FROM (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
                      CAST(row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS INT) AS rk
               FROM events)
         WHERE rk <= 3 ORDER BY user_id, rk""",
    "cdc_asof_attribution" ->
      """WITH p AS (SELECT user_id, ts AS pts, max(round(value, 4)) AS purch_value
                    FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
         SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
                epoch_us(p.pts) AS purch_ts_us, p.purch_value
         FROM events e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts >= p.pts
         ORDER BY e.event_id""",
    "cdc_sessionize" ->
      """WITH g AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
                           lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
                    FROM events),
           s AS (SELECT user_id,
                        CASE WHEN prev_us IS NULL OR ts_us - prev_us > 30*60*1000000 THEN 1 ELSE 0 END AS new_sess
                 FROM g)
         SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions, count(*) AS n_events
         FROM s GROUP BY user_id ORDER BY user_id""",
    "cdc_point_lookup" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us, round(value, 4) AS value
         FROM events
         WHERE event_type = 'purchase' AND json_extract_string(props, '$.k') = '7'
         ORDER BY ts DESC, event_id DESC LIMIT 1""",
    "cdc_recent_events" ->
      """SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
         FROM events ORDER BY ts_us DESC, event_id DESC LIMIT 10""",
    "validate_counts" ->
      """SELECT 'Nodes' AS kind, count(*) AS cnt FROM customer
         UNION ALL
         SELECT 'Relationships' AS kind, count(*) AS cnt FROM orders
         ORDER BY kind""",
    "snapshot_load" ->
      """SELECT CAST(c_custkey AS VARCHAR) AS entity_id, 'SNAPSHOT' AS event_type, c_mktsegment AS label0
         FROM customer ORDER BY entity_id""",
    "snapshot_csv" -> snapshotOracleSql,
    "snapshot_orc" -> snapshotOracleSql,
    "snapshot_jdbc" -> snapshotOracleSql,
    // exists-any-chain windowFunnel semantics recomputed by explicit
    // join: s1 = chain starts, c2 = all (start, second) continuations
    // in strict (ts, event_id) order within the window OF THE START,
    // c3 = users with a full chain. Level = longest prefix reached.
    "cdc_funnel" ->
      """WITH s1 AS (SELECT user_id, epoch_us(ts) AS t1, event_id AS i1
                     FROM events WHERE event_type = 'signup'),
           c2 AS (SELECT DISTINCT s1.user_id, s1.t1, epoch_us(e.ts) AS t2,
                         e.event_id AS i2
                  FROM s1 JOIN events e ON e.user_id = s1.user_id
                  WHERE e.event_type = 'click'
                    AND (epoch_us(e.ts) > s1.t1
                         OR (epoch_us(e.ts) = s1.t1 AND e.event_id > s1.i1))
                    AND epoch_us(e.ts) - s1.t1 <= 14400000000),
           c3 AS (SELECT DISTINCT c2.user_id
                  FROM c2 JOIN events e ON e.user_id = c2.user_id
                  WHERE e.event_type = 'purchase'
                    AND (epoch_us(e.ts) > c2.t2
                         OR (epoch_us(e.ts) = c2.t2 AND e.event_id > c2.i2))
                    AND epoch_us(e.ts) - c2.t1 <= 14400000000),
           lv AS (SELECT u.user_id,
                    CASE WHEN c3.user_id IS NOT NULL THEN 3
                         WHEN x2.user_id IS NOT NULL THEN 2
                         WHEN x1.user_id IS NOT NULL THEN 1
                         ELSE 0 END AS level
                  FROM (SELECT DISTINCT user_id FROM events) u
                  LEFT JOIN (SELECT DISTINCT user_id FROM s1) x1 USING (user_id)
                  LEFT JOIN (SELECT DISTINCT user_id FROM c2) x2 USING (user_id)
                  LEFT JOIN c3 USING (user_id))
         SELECT CAST(level AS INT) AS level, count(*) AS n_users
         FROM lv GROUP BY level ORDER BY level""",
    "cdc_funnel_strict" ->
      """WITH s1 AS (SELECT user_id, epoch_us(ts) AS t1
                     FROM events WHERE event_type = 'signup'),
           c2 AS (SELECT DISTINCT s1.user_id, s1.t1, epoch_us(e.ts) AS t2
                  FROM s1 JOIN events e ON e.user_id = s1.user_id
                  WHERE e.event_type = 'click'
                    AND epoch_us(e.ts) > s1.t1
                    AND epoch_us(e.ts) - s1.t1 <= 14400000000),
           c3 AS (SELECT DISTINCT c2.user_id
                  FROM c2 JOIN events e ON e.user_id = c2.user_id
                  WHERE e.event_type = 'purchase'
                    AND epoch_us(e.ts) > c2.t2
                    AND epoch_us(e.ts) - c2.t1 <= 14400000000),
           lv AS (SELECT u.user_id,
                    CASE WHEN c3.user_id IS NOT NULL THEN 3
                         WHEN x2.user_id IS NOT NULL THEN 2
                         WHEN x1.user_id IS NOT NULL THEN 1
                         ELSE 0 END AS level
                  FROM (SELECT DISTINCT user_id FROM events) u
                  LEFT JOIN (SELECT DISTINCT user_id FROM s1) x1 USING (user_id)
                  LEFT JOIN (SELECT DISTINCT user_id FROM c2) x2 USING (user_id)
                  LEFT JOIN c3 USING (user_id))
         SELECT CAST(level AS INT) AS level, count(*) AS n_users
         FROM lv GROUP BY level ORDER BY level""",
    "cdc_retention_cohort" ->
      """WITH f AS (SELECT user_id,
                  max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS m1,
                  max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS m2,
                  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS m3
                FROM events GROUP BY user_id)
         SELECT CAST(sum(m1) AS BIGINT) AS n_r1,
                CAST(sum(CASE WHEN m1 = 1 AND m2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_r2,
                CAST(sum(CASE WHEN m1 = 1 AND m3 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_r3
         FROM f""",
    // leftmost-greedy non-overlapping chain count via a recursive
    // chained-min CTE: each iteration finds the earliest chain
    // completion strictly after the previous one (first signup after
    // p, first click after it, first purchase after that — chained
    // mins ARE the greedy), so max(n) per user is the disjoint count
    "cdc_sequence_count" ->
      """WITH RECURSIVE ev AS (
           SELECT user_id, epoch_us(ts) AS t, event_id AS i, event_type AS ty
           FROM events
         ),
         m(user_id, n, t3, i3) AS (
           SELECT user_id, 0, CAST(-9223372036854775807 AS BIGINT),
                  CAST(-9223372036854775807 AS BIGINT)
           FROM (SELECT DISTINCT user_id FROM ev)
           UNION ALL
           SELECT m.user_id, m.n + 1, c.t3, c.i3
           FROM m JOIN LATERAL (
             SELECT e3.t AS t3, e3.i AS i3
             FROM (SELECT t, i FROM ev e1
                   WHERE e1.user_id = m.user_id AND e1.ty = 'signup'
                     AND (e1.t > m.t3 OR (e1.t = m.t3 AND e1.i > m.i3))
                   ORDER BY t, i LIMIT 1) s1,
                  LATERAL (SELECT t, i FROM ev e2
                   WHERE e2.user_id = m.user_id AND e2.ty = 'click'
                     AND (e2.t > s1.t OR (e2.t = s1.t AND e2.i > s1.i))
                   ORDER BY t, i LIMIT 1) s2,
                  LATERAL (SELECT e3.t, e3.i FROM ev e3
                   WHERE e3.user_id = m.user_id AND e3.ty = 'purchase'
                     AND (e3.t > s2.t OR (e3.t = s2.t AND e3.i > s2.i))
                   ORDER BY t, i LIMIT 1) e3
           ) c ON true
         ),
         per_user AS (SELECT user_id, max(n) AS n_matches FROM m GROUP BY user_id)
         SELECT CAST(n_matches AS BIGINT) AS n_matches, count(*) AS n_users
         FROM per_user GROUP BY 1 ORDER BY 1""",
    // identical IEEE op order as the Spark side — bins agree exactly
    "cdc_value_histogram" ->
      """WITH b AS (SELECT event_type, min(value) AS lo, max(value) AS hi
                    FROM events GROUP BY 1)
         SELECT e.event_type,
                CASE WHEN hi = lo THEN 0
                     ELSE LEAST(7, CAST(floor((e.value - lo) * 8.0 / (hi - lo)) AS BIGINT))
                END AS bin,
                count(*) AS n
         FROM events e JOIN b USING (event_type)
         GROUP BY 1, 2 ORDER BY 1, 2""",
    // the funnel oracle's exists-any-chain join shape minus the window
    // predicates (window-free subsequence existence)
    "cdc_sequence_match" ->
      """WITH s1 AS (SELECT user_id, epoch_us(ts) AS t1, event_id AS i1
                     FROM events WHERE event_type = 'signup'),
           c2 AS (SELECT DISTINCT s1.user_id, epoch_us(e.ts) AS t2,
                         e.event_id AS i2
                  FROM s1 JOIN events e ON e.user_id = s1.user_id
                  WHERE e.event_type = 'purchase'
                    AND json_extract_string(e.props, '$.k') = '7'
                    AND (epoch_us(e.ts) > s1.t1
                         OR (epoch_us(e.ts) = s1.t1 AND e.event_id > s1.i1))),
           c3 AS (SELECT DISTINCT c2.user_id
                  FROM c2 JOIN events e ON e.user_id = c2.user_id
                  WHERE e.event_type = 'error'
                    AND json_extract_string(e.props, '$.k') = '13'
                    AND (epoch_us(e.ts) > c2.t2
                         OR (epoch_us(e.ts) = c2.t2 AND e.event_id > c2.i2)))
         SELECT u.user_id IN (SELECT user_id FROM c3) AS matched,
                count(*) AS n_users
         FROM (SELECT DISTINCT user_id FROM events) u
         GROUP BY 1 ORDER BY matched""",
    // same multiplied-out integer 3σ test as the Spark side — both
    // engines compare exact integers, so the verdict bit agrees
    "cdc_anomaly_daily" ->
      """WITH daily AS (
           SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                  count(*) AS cnt,
                  date_diff('day', DATE '1970-01-01',
                            CAST(date_trunc('day', ts) AS DATE)) AS d
           FROM events GROUP BY 1, 2),
         win AS (
           SELECT event_type, day, cnt,
                  count(*) OVER w AS n_base,
                  sum(cnt) OVER w AS s_base,
                  sum(cnt * cnt) OVER w AS q_base
           FROM daily
           WINDOW w AS (PARTITION BY event_type ORDER BY d
                        RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING))
         SELECT event_type, strftime(day, '%Y-%m-%d') AS day, cnt,
                n_base,
                (n_base * cnt - s_base) * (n_base * cnt - s_base)
                  * (n_base - 1)
                  > 9 * n_base * (n_base * q_base - s_base * s_base)
                  AS anomaly
         FROM win WHERE n_base >= 3
         ORDER BY event_type, day""",
    "cdc_funnel_strict_order" ->
      """WITH o AS (SELECT user_id, event_type, epoch_us(ts) AS t,
                           row_number() OVER (PARTITION BY user_id
                             ORDER BY epoch_us(ts), event_id) AS rn
                    FROM events),
           l1 AS (SELECT DISTINCT user_id FROM o
                  WHERE event_type = 'signup'),
           c2 AS (SELECT a.user_id, a.t AS t1, b.rn AS rn2
                  FROM o a JOIN o b
                    ON b.user_id = a.user_id AND b.rn = a.rn + 1
                  WHERE a.event_type = 'signup' AND b.event_type = 'click'
                    AND b.t - a.t <= 14400000000),
           c3 AS (SELECT DISTINCT c2.user_id
                  FROM c2 JOIN o c
                    ON c.user_id = c2.user_id AND c.rn = c2.rn2 + 1
                  WHERE c.event_type = 'purchase'
                    AND c.t - c2.t1 <= 14400000000),
           lv AS (SELECT u.user_id,
                    CASE WHEN c3.user_id IS NOT NULL THEN 3
                         WHEN x2.user_id IS NOT NULL THEN 2
                         WHEN l1.user_id IS NOT NULL THEN 1
                         ELSE 0 END AS level
                  FROM (SELECT DISTINCT user_id FROM events) u
                  LEFT JOIN l1 USING (user_id)
                  LEFT JOIN (SELECT DISTINCT user_id FROM c2) x2 USING (user_id)
                  LEFT JOIN c3 USING (user_id))
         SELECT CAST(level AS INT) AS level, count(*) AS n_users
         FROM lv GROUP BY level ORDER BY level""",
    "cdc_value_stats" ->
      """SELECT event_type, count(*) AS n,
                round(corr(value, k), 4) AS corr_vk,
                round(covar_pop(value, k), 4) AS covar_vk,
                round(stddev_pop(value), 4) AS stddev_v
         FROM (SELECT event_type, value,
                      TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k
               FROM events)
         WHERE k IS NOT NULL
         GROUP BY event_type ORDER BY event_type""",
    "cdc_funnel_times" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
         t1 AS (SELECT user_id, min(us) AS t1 FROM e
                WHERE event_type = 'signup' GROUP BY 1),
         t2 AS (SELECT e.user_id, t1, min(us) AS t2
                FROM e JOIN t1 USING (user_id)
                WHERE event_type = 'click' AND us > t1 GROUP BY 1, 2),
         t3 AS (SELECT e.user_id, t2, min(us) AS t3
                FROM e JOIN t2 USING (user_id)
                WHERE event_type = 'purchase' AND us > t2 GROUP BY 1, 2),
         a1 AS (SELECT count(*) AS n1 FROM t1),
         a2 AS (SELECT count(*) AS n2, CAST(sum(t2 - t1) AS BIGINT) AS s12 FROM t2),
         a3 AS (SELECT count(*) AS n3, CAST(sum(t3 - t2) AS BIGINT) AS s23 FROM t3)
         SELECT n1, n2, n3,
                CASE WHEN n2 > 0 THEN s12 // n2 END AS avg12_us,
                CASE WHEN n3 > 0 THEN s23 // n3 END AS avg23_us
         FROM a1, a2, a3""",
    "cdc_cohort_matrix" ->
      """WITH e AS (SELECT DISTINCT user_id,
                           epoch_us(ts) // 86400000000 AS day FROM events),
         c AS (SELECT user_id, min(day) AS c_day FROM e GROUP BY 1)
         SELECT c_day, day - c_day AS day_offset, count(*) AS n_users
         FROM e JOIN c USING (user_id)
         GROUP BY 1, 2 ORDER BY c_day, day_offset""",
    "cdc_stickiness" ->
      """WITH e AS (SELECT strftime(ts, '%Y-%m') AS month,
                           CAST(ts AS DATE) AS day, user_id FROM events),
         d AS (SELECT month, day, count(DISTINCT user_id) AS dau
               FROM e GROUP BY 1, 2),
         m AS (SELECT month, count(DISTINCT user_id) AS mau
               FROM e GROUP BY 1),
         s AS (SELECT month, count(*) AS n_days,
                      CAST(sum(dau) AS BIGINT) AS sum_dau
               FROM d GROUP BY 1)
         SELECT s.month, n_days, mau,
                round(sum_dau * 1.0 / n_days, 4) AS avg_dau,
                round((sum_dau * 1.0 / n_days) / mau, 4) AS stickiness
         FROM s JOIN m USING (month) ORDER BY month""",
    "cdc_value_quantiles" ->
      """SELECT event_type, count(*) AS n,
                round(quantile_cont(value, 0.25), 4) AS q25,
                round(quantile_cont(value, 0.5), 4) AS q50,
                round(quantile_cont(value, 0.75), 4) AS q75,
                round(quantile_cont(value, 0.95), 4) AS q95
         FROM events GROUP BY event_type ORDER BY event_type""",
    "cdc_rfm" ->
      """WITH ref AS (SELECT max(epoch_us(ts)) AS ref_us FROM events),
         u AS (SELECT user_id, max(epoch_us(ts)) AS last_us,
                      count(*) AS freq,
                      sum(CAST(round(value * 100) AS BIGINT)) AS m_cents
               FROM events GROUP BY 1),
         seg AS (SELECT
                   (CASE WHEN (ref_us - last_us) // 3600000000 < 24
                         THEN 'R1' ELSE 'R0' END)
                 || (CASE WHEN freq >= 67 THEN 'F1' ELSE 'F0' END)
                 || (CASE WHEN m_cents >= 330000 THEN 'M1' ELSE 'M0' END)
                   AS segment,
                 freq, m_cents
                 FROM u, ref)
         SELECT segment, count(*) AS n_users,
                sum(m_cents) / 100.0 AS total_value,
                CAST(sum(freq) AS BIGINT) AS n_events
         FROM seg GROUP BY segment ORDER BY segment""",
    "cdc_active_time" ->
      """WITH iv AS (SELECT user_id, epoch_us(ts) AS s_us,
                            epoch_us(ts) + 1800000000 AS e_us FROM events),
           r AS (SELECT user_id, s_us, e_us,
                        max(e_us) OVER (PARTITION BY user_id
                          ORDER BY s_us, e_us
                          ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS run_end
                 FROM iv)
         SELECT user_id,
                CAST(sum(GREATEST(e_us - GREATEST(s_us,
                       COALESCE(run_end, s_us)), 0)) AS BIGINT) AS active_us
         FROM r GROUP BY user_id ORDER BY user_id""",
    "cdc_daily_filled" ->
      """WITH sp AS (SELECT event_type,
                            CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS d
                     FROM events
                     WHERE json_extract_string(props, '$.k') = '7'
                       AND user_id % 5 = 2),
           c AS (SELECT event_type, d, count(*) AS cnt FROM sp GROUP BY 1, 2),
           span AS (SELECT min(d) AS d0, max(d) AS d1 FROM sp),
           grid AS (SELECT t.event_type, g.d
                    FROM (SELECT DISTINCT event_type FROM sp) t,
                         (SELECT unnest(range(d0, d1 + 1)) AS d FROM span) g)
         SELECT grid.event_type, grid.d AS day_idx,
                COALESCE(c.cnt, 0) AS cnt
         FROM grid LEFT JOIN c
           ON grid.event_type = c.event_type AND grid.d = c.d
         ORDER BY 1, 2""",
    "cdc_daily_delta" ->
      """WITH daily AS (SELECT event_type,
                               CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS d,
                               count(*) AS cnt
                        FROM events GROUP BY 1, 2),
           dd AS (SELECT event_type, d, cnt,
                         cnt - lag(cnt) OVER (PARTITION BY event_type ORDER BY d) AS delta
                  FROM daily)
         SELECT event_type, d AS day_idx, cnt, delta,
                CAST(sum(CASE WHEN delta > 0 THEN delta ELSE 0 END)
                     OVER (PARTITION BY event_type) AS BIGINT) AS delta_sum_pos
         FROM dd ORDER BY 1, 2""",
    "cdc_activity_heatmap" ->
      """SELECT CAST(floor(epoch_us(ts) / 86400000000) % 7 AS BIGINT) AS dow_idx,
                CAST(floor(epoch_us(ts) / 3600000000) % 24 AS BIGINT) AS hour,
                count(*) AS cnt,
                round(CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS DOUBLE)
                      / count(*) / 10000.0e0, 4) AS avg_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "cdc_history_scd2" ->
      """WITH v AS (SELECT user_id, event_type, value, epoch_us(ts) AS f,
                           row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS version,
                           lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS t
                    FROM events)
         SELECT user_id, version, event_type, round(value, 4) AS value,
                f AS valid_from_us, t AS valid_to_us,
                t IS NULL AS is_current
         FROM v ORDER BY user_id, version""",
    "cdc_next_event" ->
      """WITH n AS (SELECT event_type,
                           lead(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS next_type
                    FROM events)
         SELECT coalesce(next_type, '(end)') AS next_type, count(*) AS cnt
         FROM n WHERE event_type = 'signup' GROUP BY 1 ORDER BY 1""",
    "cdc_path_counts" ->
      """WITH r AS (SELECT user_id, event_type,
                           row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn
                    FROM events),
           p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
                 FROM r WHERE rn <= 3 GROUP BY user_id)
         SELECT path, count(*) AS n_users FROM p
         GROUP BY path ORDER BY n_users DESC, path LIMIT 20""",
    // pow(2e0, …/7e0): e-notation forces DOUBLE literals (DuckDB's
    // bare decimals are DECIMAL-typed, whose division would diverge
    // from Spark's double arithmetic at the ulp level).
    "cdc_user_entropy" ->
      """WITH uc AS (SELECT event_type, user_id, count(*) AS c
                     FROM events GROUP BY 1, 2)
         SELECT event_type, CAST(sum(c) AS BIGINT) AS n_events,
                CAST(count(*) AS BIGINT) AS n_users,
                round(ln(CAST(sum(c) AS DOUBLE)) -
                      sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) / sum(c),
                      4) AS entropy_nats
         FROM uc GROUP BY event_type ORDER BY event_type""",
    "cdc_value_ema" ->
      """WITH daily AS (SELECT event_type,
                               CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS d,
                               sum(value) AS v
                        FROM events GROUP BY 1, 2),
           g AS (SELECT event_type, d, v,
                        CASE WHEN max(d) OVER (PARTITION BY event_type)
                                  - min(d) OVER (PARTITION BY event_type) > 7000
                             THEN CAST(error('cdc_value_ema: series span exceeds the 2^(span/7) double-overflow bound (~7100 days)') AS DOUBLE)
                             ELSE pow(2e0, CAST(d - min(d) OVER (PARTITION BY event_type) AS DOUBLE) / 7e0)
                        END AS g
                 FROM daily)
         SELECT event_type, d AS day_idx, round(v, 4) AS v,
                round(sum(v * g) OVER w / sum(g) OVER w, 4) AS ema
         FROM g
         WINDOW w AS (PARTITION BY event_type ORDER BY d
                      RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
         ORDER BY event_type, day_idx""",
    "cdc_lttb" ->
      """WITH daily AS (SELECT event_type,
                               CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS dabs,
                               count(*) AS y
                        FROM events GROUP BY 1, 2),
           pts AS (SELECT event_type,
                          dabs - min(dabs) OVER (PARTITION BY event_type) AS x, y,
                          row_number() OVER (PARTITION BY event_type ORDER BY dabs) AS rn,
                          count(*) OVER (PARTITION BY event_type) AS n
                   FROM daily),
           firstpt AS (SELECT event_type, x AS fx, y AS fy FROM pts WHERE rn = 1),
           lastpt AS (SELECT event_type, x AS lx, y AS ly FROM pts WHERE rn = n AND n > 1),
           mid AS (SELECT event_type, x, y,
                          least(CAST(floor((rn - 2) * 8 / (n - 2)) AS BIGINT), 7) AS b
                   FROM pts WHERE rn > 1 AND rn < n),
           bstats AS (SELECT event_type, b, sum(x) AS sx, sum(y) AS sy, count(*) AS c
                      FROM mid GROUP BY 1, 2),
           anch AS (SELECT s.event_type, s.b,
                           coalesce(lag(sx) OVER w, f.fx) AS axs,
                           coalesce(lag(sy) OVER w, f.fy) AS ays,
                           coalesce(lag(c) OVER w, 1) AS ac,
                           coalesce(lead(sx) OVER w, l.lx) AS cxs,
                           coalesce(lead(sy) OVER w, l.ly) AS cys,
                           coalesce(lead(c) OVER w, 1) AS cc
                    FROM bstats s JOIN firstpt f USING (event_type)
                                  JOIN lastpt l USING (event_type)
                    WINDOW w AS (PARTITION BY s.event_type ORDER BY s.b)),
           scored AS (SELECT m.event_type, m.x, m.y, m.b,
                             abs((axs * cc - cxs * ac) * (m.y * ac - ays)
                               - (axs - m.x * ac) * (cys * ac - ays * cc)) AS e
                      FROM mid m JOIN anch a ON m.event_type = a.event_type AND m.b = a.b),
           picked AS (SELECT event_type, x, y FROM
                        (SELECT *, row_number() OVER (PARTITION BY event_type, b
                                                      ORDER BY e DESC, x) AS pk
                         FROM scored) WHERE pk = 1)
         SELECT event_type, x AS day_off, y AS cnt FROM (
           SELECT event_type, fx AS x, fy AS y FROM firstpt
           UNION ALL SELECT event_type, x, y FROM picked
           UNION ALL SELECT event_type, lx AS x, ly AS y FROM lastpt)
         ORDER BY event_type, day_off""",
    "cdc_lttb_exact" ->
      s"""WITH daily AS (SELECT event_type,
                                CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS dabs,
                                count(*) AS y
                         FROM events GROUP BY 1, 2),
           pts AS MATERIALIZED (SELECT event_type,
                          dabs - min(dabs) OVER (PARTITION BY event_type) AS x, y,
                          row_number() OVER (PARTITION BY event_type ORDER BY dabs) AS rn,
                          count(*) OVER (PARTITION BY event_type) AS n
                   FROM daily),
           shortp AS (SELECT event_type, x, y FROM pts WHERE n <= 10),
           firstpt AS MATERIALIZED (SELECT event_type, x AS fx, y AS fy
                                    FROM pts WHERE rn = 1 AND n > 10),
           lastpt AS MATERIALIZED (SELECT event_type, x AS lx, y AS ly
                                   FROM pts WHERE rn = n AND n > 10),
           mid AS MATERIALIZED (SELECT event_type, x, y,
                          least(CAST(floor((rn - 2) * 8 / (n - 2)) AS BIGINT), 7) AS b
                   FROM pts WHERE rn > 1 AND rn < n AND n > 10),
           bst AS (SELECT event_type, b, sum(x) AS sx, sum(y) AS sy, count(*) AS c
                   FROM mid GROUP BY 1, 2),
           anch AS MATERIALIZED (
             SELECT event_type, b - 1 AS b, sx AS cxs, sy AS cys, c AS cc
             FROM bst WHERE b >= 1
             UNION ALL
             SELECT event_type, 7, lx, ly, 1 FROM lastpt),
           ${(0 to 7).map(lttbPick).mkString(",\n")}
         SELECT event_type, x AS day_off, y AS cnt FROM (
           SELECT event_type, x, y FROM shortp
           UNION ALL SELECT event_type, fx, fy FROM firstpt
           ${(0 to 7).map(b => s"UNION ALL SELECT event_type, x, y FROM p$b").mkString("\n           ")}
           UNION ALL SELECT event_type, lx, ly FROM lastpt)
         ORDER BY event_type, day_off"""
  )
}
