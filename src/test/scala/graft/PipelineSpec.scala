package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.operators.Multimodal
import graft.sinks.{JdbcSink, ParquetSink}
import graft.streaming.CdcStream

/** Sinks (I1/I2), streaming (H1/H2), and multimodal (G1/G2)
  * invariants. Streaming latest-state is driven through MemoryStream
  * across MULTIPLE micro-batches to prove the state actually carries
  * over (the AvailableNow driver entry only sees one batch).
  */
/** Relationship CDC record for the generic latest-state spec (top
  * level: product encoders need a stable outer scope). */
case class RelEv(rel_id: Long, ts_us: Long, edge_key: String,
                 rel_type: String, op: String)

/** Event with a real timestamp field for the TTL spec (EventTimeTimeout
  * needs a watermark on an event-time column of the typed record). */
case class TtlEv(entity: Long, ts: java.sql.Timestamp, ver: Long,
                 payload: String)

class PipelineSpec extends SparkSpec {

  /** epoch seconds -> Timestamp (shared by the streaming specs). */
  private def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)

  test("jdbc sink options: batched, isolation NONE, bounded connections") {
    val o = JdbcSink.options("jdbc:clickhouse://host:8123/cdc", "nodes_cdc",
      "u", "p", batchSize = 50000, numPartitions = 8)
    assert(o("batchsize") == "50000")
    assert(o("isolationLevel") == "NONE")
    assert(o("numPartitions") == "8")
    assert(o("rewriteBatchedStatements") == "true")
    assert(o("dbtable") == "nodes_cdc")
  }

  test("jdbc writer coalesces to the connection bound") {
    val df = Tables.load(spark, sfDir, "orders").repartition(16)
    val w = JdbcSink.writer(df, JdbcSink.options("jdbc:x", "t", "u", "p",
      numPartitions = 4))
    assert(w != null) // construction only — no live DB in the sandbox
  }

  test("monthly parquet sink round-trips and prunes by month") {
    val out = Files.createTempDirectory("graft_sink").toString
    val events = Tables.load(spark, sfDir, "events")
    ParquetSink.writeMonthly(events, "ts", out, mode = "overwrite")
    val back = ParquetSink.readMonthly(spark, out)
    assert(back.count() == events.count())
    // month is a partition column (read back type-inferred as int) ->
    // directory pruning, not data read
    val months = events.select(ParquetSink.monthKey(col("ts"))).distinct().count()
    assert(back.select("month").distinct().count() == months)
    val m0 = back.select(col("month").cast("string")).first().getString(0)
    val one = back.filter(col("month").cast("string") === m0)
    assert(one.count() > 0)
  }

  test("compactToLatest = OPTIMIZE FINAL: one row per entity, newest wins") {
    val out = Files.createTempDirectory("graft_compact").toString
    val events = Tables.load(spark, sfDir, "events")
    ParquetSink.compactToLatest(events, "user_id", Seq("ts", "event_id"), "ts", out)
    val back = ParquetSink.readMonthly(spark, out)
    assert(back.count() == events.select("user_id").distinct().count())
    // the compacted row per entity is the newest event
    val expect = graft.operators.CurrentState
      .latest(events, "user_id", Seq("ts", "event_id"))
      .select(col("user_id"), col("event_id"))
    assert(back.select(col("user_id"), col("event_id"))
      .exceptAll(expect).count() == 0)
  }

  test("bucketed tables join with zero shuffle exchanges") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val oldAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      ParquetSink.writeBucketed(
        Tables.load(spark, sfDir, "orders"), "o_custkey", 4, "orders_b")
      ParquetSink.writeBucketed(
        Tables.load(spark, sfDir, "customer")
          .withColumnRenamed("c_custkey", "o_custkey"), "o_custkey", 4, "customer_b")
      val joined = spark.table("orders_b")
        .join(spark.table("customer_b"), "o_custkey")
      val shuffles = joined.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      assert(shuffles.isEmpty,
        s"bucketed join should be shuffle-free, found ${shuffles.size} exchanges")
      // and it still returns the right rows
      assert(joined.count() ==
        Tables.load(spark, sfDir, "orders")
          .join(Tables.load(spark, sfDir, "customer"),
            col("o_custkey") === col("c_custkey")).count())
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", oldAqe)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
    }
  }

  test("streaming latest-state carries state across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[CdcStream.Ev]
    val q = CdcStream.latestState(mem.toDS()).toDF()
      .writeStream.format("memory").queryName("pipelinespec_state")
      .outputMode(OutputMode.Update()).start()
    // batch 1: two users
    mem.addData(CdcStream.Ev(1, 100, 7, "signup", 1.0),
                CdcStream.Ev(2, 200, 8, "click", 2.0))
    q.processAllAvailable()
    // batch 2: newer event for user 7, older (ignored) for user 8
    mem.addData(CdcStream.Ev(3, 300, 7, "purchase", 3.0),
                CdcStream.Ev(4, 150, 8, "view", 9.9))
    q.processAllAvailable()
    q.stop()
    val finalState = spark.table("pipelinespec_state")
      .groupBy("user_id")
      .agg(max_by(struct(col("ts_us"), col("event_id"), col("event_type")),
        struct(col("ts_us"), col("event_id"))).as("st"))
      .select(col("user_id"), col("st.event_type").as("t"), col("st.ts_us").as("ts"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(finalState(7L) == ("purchase", 300L)) // newer event won
    assert(finalState(8L) == ("click", 200L))    // older event did NOT win
  }

  test("streaming scd2 chains versions across micro-batches, emits each once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[CdcStream.Ev]
    val q = CdcStream.scd2Closed(mem.toDS()).toDF()
      .writeStream.format("memory").queryName("pipelinespec_scd2")
      .outputMode(OutputMode.Append()).start()
    // batch 1: user 7 has two events (one version closes in-batch),
    // user 8 one event (stays open)
    mem.addData(CdcStream.Ev(1, 100, 7, "signup", 1.0),
                CdcStream.Ev(2, 200, 7, "click", 2.0),
                CdcStream.Ev(3, 150, 8, "signup", 5.0))
    q.processAllAvailable()
    // batch 2: closes user 7's open v2 AND user 8's open v1 — the
    // cross-batch chain the state exists to carry
    mem.addData(CdcStream.Ev(4, 300, 7, "purchase", 3.0),
                CdcStream.Ev(5, 250, 8, "error", 0.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("pipelinespec_scd2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(4), r.getLong(5))).toSet
    assert(rows == Set(
      (7L, 1L, "signup", 100L, 200L),
      (7L, 2L, "click", 200L, 300L),
      (8L, 1L, "signup", 150L, 250L)))
    // emit-once: (user, version) unique
    val n = spark.table("pipelinespec_scd2").count()
    assert(n == 3, s"expected 3 closed versions, got $n")
  }

  test("streaming scd2 equals the batch fold under any time-contiguous batching") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(31)
    val events = (1 to 120).map { i =>
      CdcStream.Ev(i.toLong, 10L * i + rnd.nextInt(5), (i % 7).toLong,
        Seq("signup", "click", "purchase")(rnd.nextInt(3)), rnd.nextDouble())
    }.sortBy(e => (e.ts_us, e.event_id))
    // batch reference: per-user left fold over the global order
    val want = events.groupBy(_.user_id).flatMap { case (u, es) =>
      es.sortBy(e => (e.ts_us, e.event_id)).sliding(2).collect {
        case Seq(a, b) => (u, a.event_type, a.ts_us, b.ts_us)
      }
    }.toSet
    // streamed with random time-contiguous cuts (the ordering contract)
    val cuts = (Seq(0) ++ Seq.fill(3)(rnd.nextInt(events.length)) ++
      Seq(events.length)).distinct.sorted
    val mem = MemoryStream[CdcStream.Ev]
    val q = CdcStream.scd2Closed(mem.toDS()).toDF()
      .writeStream.format("memory").queryName("pipelinespec_scd2_rand")
      .outputMode(OutputMode.Append()).start()
    cuts.sliding(2).foreach { case Seq(a, b) =>
      if (b > a) { mem.addData(events.slice(a, b)); q.processAllAvailable() }
    }
    q.stop()
    val got = spark.table("pipelinespec_scd2_rand")
      .collect().map(r => (r.getLong(0), r.getString(2), r.getLong(4),
        r.getLong(5))).toSet
    assert(got == want)
  }

  test("streaming event counts equal batch aggregation") {
    val streamed = SparkEntry.queries("stream_event_counts")(spark, sfDir)
    val batch = Tables.load(spark, sfDir, "events")
      .groupBy(window(col("ts"), "1 day").getField("start").as("day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_micros(col("day")).as("day_us"), col("event_type"), col("cnt"))
    assert(streamed.select("day_us", "event_type", "cnt")
      .exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed.select("day_us", "event_type", "cnt")).count() == 0)
  }

  test("memory-sink read-back: fresh checkpoint per call, none left behind") {
    import java.nio.file.{FileSystems, Paths, StandardWatchEventKinds => Kind}
    import scala.jdk.CollectionConverters._
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    // the read-back's own checkpoint: a staging dir of this process
    val own = "graft_staging_stream_ckpt_"
    val pid = ProcessHandle.current().pid()
    def ownLeft = Option(tmp.toFile.list()).toSeq.flatten
      .filter(n => n.startsWith(own) && n.endsWith(s"_$pid"))
    val watch = FileSystems.getDefault.newWatchService()
    tmp.register(watch, Kind.ENTRY_CREATE)
    try {
      val total = Tables.load(spark, sfDir, "events").count()
      val runs = (1 to 2).map { _ =>
        val rows = SparkEntry.queries("stream_event_counts")(spark, sfDir)
          .collect().toSeq
        assert(ownLeft.isEmpty, "checkpoint dir outlived its query")
        rows
      }
      // a reused AvailableNow checkpoint would hand the second call an
      // empty table
      assert(runs.head.map(_.getAs[Long]("cnt")).sum == total)
      assert(runs(1) == runs.head)
      // every entry made in tmpdir during the calls, including ones
      // deleted again: Spark removes its own temporary-<uuid>
      // checkpoint on a clean stop, but not after a kill
      val made = Iterator.continually(watch.poll(1, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile(_ != null)
        .flatMap { key =>
          val evs = key.pollEvents().asScala.toList
          key.reset()
          evs.filter(_.kind == Kind.ENTRY_CREATE).map(_.context.toString)
        }.toSet
      assert(!made.exists(_.startsWith("temporary-")),
        s"Spark made its own checkpoint: $made")
      assert(made.exists(_.startsWith(own)), made)
    } finally watch.close()
  }

  test("generic latestBy runs the relationship stream (second CDC stream)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[RelEv]
    val q = CdcStream.latestBy[String, RelEv](mem.toDS(), _.edge_key,
        newer = (a, b) => a.ts_us > b.ts_us ||
          (a.ts_us == b.ts_us && a.rel_id > b.rel_id))
      .toDF()
      .writeStream.format("memory").queryName("pipelinespec_rel")
      .outputMode(OutputMode.Update()).start()
    mem.addData(RelEv(1, 100, "c1->o1", "ORDERED", "CREATE"),
                RelEv(2, 200, "c2->o2", "ORDERED", "CREATE"))
    q.processAllAvailable()
    // edge c1->o1 updated then deleted in a later batch; c2->o2's
    // stale earlier event must NOT displace its current state
    mem.addData(RelEv(3, 300, "c1->o1", "ORDERED", "DELETE"),
                RelEv(4, 150, "c2->o2", "ORDERED", "UPDATE"))
    q.processAllAvailable()
    q.stop()
    val fin = spark.table("pipelinespec_rel")
      .groupBy("edge_key")
      .agg(max_by(struct(col("ts_us"), col("rel_id"), col("op")),
        struct(col("ts_us"), col("rel_id"))).as("st"))
      .select(col("edge_key"), col("st.op").as("op"), col("st.ts_us").as("ts"))
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(fin("c1->o1") == ("DELETE", 300L), "tombstone is the final state")
    assert(fin("c2->o2") == ("CREATE", 200L), "stale event did not win")
  }

  test("watermarked append windows emit once closed and evict state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[CdcStream.Ev]
    val stream = mem.toDS()
      .select(expr("timestamp_micros(ts_us)").as("ts"),
        col("event_type"), col("value"))
    val q = CdcStream.eventCountsSliding(stream, size = "1 day",
        slide = "1 day", delay = "1 day")
      .writeStream.format("memory").queryName("pipelinespec_wm")
      .outputMode(OutputMode.Append()).start()
    val us = 1000000L
    val day = 86400L * us
    // day-1 window: two clicks
    mem.addData(CdcStream.Ev(1, 1 * 3600L * us, 7, "click", 1.0),
                CdcStream.Ev(2, 2 * 3600L * us, 8, "click", 2.0))
    q.processAllAvailable()
    // event in window [3d,4d): advances max event time; the watermark
    // trails one batch behind, so nothing closes yet
    mem.addData(CdcStream.Ev(3, 3 * day + 1800L * us, 7, "click", 5.0))
    q.processAllAvailable()
    // event at 4d (window [4d,5d)): watermark reaches 3d+0.5h-1d...
    // then the no-data batch after it lifts it to ~3d+0.5h — past the
    // day-1 window's end (emitted + evicted) but NOT past [3d,4d)'s
    mem.addData(CdcStream.Ev(4, 4 * day, 9, "view", 1.0))
    q.processAllAvailable()
    val emitted = spark.table("pipelinespec_wm")
      .select(unix_micros(col("window.start")).as("w"), col("event_type"),
        col("cnt"), col("sum_value"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(emitted.toSet == Set((0L, "click", 2L, 3.0)),
      s"only the closed day-1 window should have been appended: ${emitted.toSeq}")
    // bounded state: the emitted window's state is gone — only the
    // two still-open windows remain
    val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
    assert(stateRows <= 2, s"closed-window state not evicted: $stateRows rows")
    q.stop()
  }

  test("latestBy final state is independent of micro-batch boundaries") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(7)
    val events = (1 to 60).map { i =>
      CdcStream.Ev(i.toLong, rnd.nextInt(1000).toLong,
        (1 + rnd.nextInt(5)).toLong, s"t${rnd.nextInt(3)}", rnd.nextDouble())
    }
    // ground truth: newest (ts, id) per user, batching-independent
    val want = events.groupBy(_.user_id).map { case (u, es) =>
      u -> es.maxBy(e => (e.ts_us, e.event_id)).event_id
    }
    (1 to 3).foreach { trial =>
      // random batch boundaries over the SAME ordered event stream
      val batches = events.foldLeft(List(List.empty[CdcStream.Ev])) {
        (acc, e) =>
          if (acc.head.nonEmpty && rnd.nextDouble() < 0.2)
            List(e) :: acc
          else (e :: acc.head) :: acc.tail
      }.map(_.reverse).reverse
      val mem = MemoryStream[CdcStream.Ev]
      val name = s"pipelinespec_split_$trial"
      val q = CdcStream.latestState(mem.toDS()).toDF()
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Update()).start()
      batches.foreach { b =>
        if (b.nonEmpty) { mem.addData(b: _*); q.processAllAvailable() }
      }
      q.stop()
      val got = spark.table(name)
        .groupBy("user_id")
        .agg(max_by(col("event_id"), struct(col("ts_us"), col("event_id")))
          .as("event_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"trial $trial (batching ${batches.map(_.size)})")
    }
  }

  test("latestByExpiring evicts idle keys past the TTL, live keys survive") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TtlEv]
    val withWm = mem.toDS().withWatermark("ts", "0 seconds")
    val q = CdcStream.latestByExpiring[Long, TtlEv](withWm, _.entity,
        newer = (a, b) => a.ts.getTime > b.ts.getTime ||
          (a.ts.getTime == b.ts.getTime && a.ver > b.ver),
        eventTimeUs = _.ts.getTime * 1000L,
        ttlMs = 50000L) // 50 s of idleness allowed
      .toDF()
      .writeStream.format("memory").queryName("pipelinespec_ttl")
      .outputMode(OutputMode.Update()).start()
    // batch 1: entities 7 and 8 at t=100s (leases run to 150s)
    mem.addData(TtlEv(7, ts(100), 1, "a"), TtlEv(8, ts(100), 1, "b"))
    q.processAllAvailable()
    // batch 2 advances the watermark to 1000s; batch 3 triggers the
    // timeout pass under the new watermark — 7 and 8 age out, 9 lives
    mem.addData(TtlEv(9, ts(1000), 1, "c"))
    q.processAllAvailable()
    mem.addData(TtlEv(9, ts(1001), 2, "c2"))
    q.processAllAvailable()
    val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
    assert(stateRows == 1,
      s"idle entities should be evicted, live one kept: $stateRows state rows")
    // an evicted entity's next event re-creates it like a first sighting
    mem.addData(TtlEv(7, ts(1002), 2, "back"))
    q.processAllAvailable()
    q.stop()
    val emitted = spark.table("pipelinespec_ttl")
      .filter(col("entity") === 7).select("payload")
      .collect().map(_.getString(0)).toSeq
    assert(emitted == Seq("a", "back"), s"re-sighting emits again: $emitted")
    assert(spark.table("pipelinespec_ttl")
      .filter(col("entity") === 9).count() == 2, "live entity kept updating")
  }

  test("latestByExpiring: a stale batch must not shorten a live key's lease") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TtlEv]
    // 500s watermark delay lets an event that is older than a key's
    // retained newest (but above the watermark) reach the operator
    val withWm = mem.toDS().withWatermark("ts", "500 seconds")
    val q = CdcStream.latestByExpiring[Long, TtlEv](withWm, _.entity,
        newer = (a, b) => a.ts.getTime > b.ts.getTime ||
          (a.ts.getTime == b.ts.getTime && a.ver > b.ver),
        eventTimeUs = _.ts.getTime * 1000L,
        ttlMs = 50000L)
      .toDF()
      .writeStream.format("memory").queryName("pipelinespec_ttl_stale")
      .outputMode(OutputMode.Update()).start()
    // A's newest is t=1000 (lease 1050); B at t=100 (lease 150);
    // watermark after this batch: 1000-500 = 500
    mem.addData(TtlEv(1, ts(1000), 1, "a"), TtlEv(2, ts(100), 1, "b"))
    q.processAllAvailable()
    // stale event for A at t=600 (above wm 500, older than A's
    // newest): with the lease computed from the batch max this would
    // cut A's lease to 650; from the RETAINED event it stays 1050
    mem.addData(TtlEv(1, ts(600), 0, "a-stale"))
    q.processAllAvailable()
    // advance the watermark to 700 (1200-500), then trigger the
    // timeout pass: B (lease 150) ages out; A must survive
    mem.addData(TtlEv(3, ts(1200), 1, "c"))
    q.processAllAvailable()
    mem.addData(TtlEv(3, ts(1250), 2, "c2"))
    q.processAllAvailable()
    val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
    q.stop()
    assert(stateRows == 2,
      s"A (stale batch) + C must hold state, B evicted: $stateRows rows")
  }

  test("latestByExpiring: a later stale batch cannot arm the lease DOWN") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TtlEv]
    val withWm = mem.toDS().withWatermark("ts", "900 seconds")
    // VERSION-ordered newer: event time is deliberately not monotone
    // with the version, so stale (lower-version) events can carry any
    // event time — the shape that exposed the down-arming hazard
    val q = CdcStream.latestByExpiring[Long, TtlEv](withWm, _.entity,
        newer = (a, b) => a.ver > b.ver,
        eventTimeUs = _.ts.getTime * 1000L,
        ttlMs = 50000L)
      .toDF()
      .writeStream.format("memory").queryName("pipelinespec_ttl_mono")
      .outputMode(OutputMode.Update()).start()
    // retained winner: ver=5 at t=1000s (wm after batch: 100s)
    mem.addData(TtlEv(1, ts(1000), 5, "v5"))
    q.processAllAvailable()
    // stale batch A at t=2000s: lease must extend to 2050s
    mem.addData(TtlEv(1, ts(2000), 1, "v1"))
    q.processAllAvailable()
    // stale batch B at t=1100s: the max EVER seen (2000s) is in
    // state, so the lease must NOT re-arm down to 1150s
    mem.addData(TtlEv(1, ts(1100), 2, "v2"))
    q.processAllAvailable()
    // advance the watermark to ~1300s (2200-900), between the buggy
    // lease (1150) and the correct one (2050), and run a timeout pass
    mem.addData(TtlEv(9, ts(2200), 1, "other"))
    q.processAllAvailable()
    mem.addData(TtlEv(9, ts(2210), 2, "other2"))
    q.processAllAvailable()
    val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
    q.stop()
    assert(stateRows == 2,
      s"entity 1 must survive (lease 2050s > wm ~1300s): $stateRows rows")
    // and the retained value never regressed below ver=5
    val emitted = spark.table("pipelinespec_ttl_mono")
      .filter(col("entity") === 1).select("ver")
      .collect().map(_.getLong(0)).toSeq
    assert(emitted == Seq(5L), s"stale versions must never emit: $emitted")
  }

  test("foreachBatch sink lands every row through the batch writer") {
    val landed = scala.collection.mutable.ArrayBuffer.empty[Long]
    var seenOpts: Map[String, String] = Map.empty
    val opts = graft.sinks.JdbcSink.options(
      "jdbc:clickhouse://host:8123/cdc", "nodes_cdc", "u", "p")
    val stream = CdcStream.readEvents(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"))
    val ckpt = s"${System.getProperty("java.io.tmpdir")}/graft_ckpt_${System.nanoTime()}"
    CdcStream.sinkEachBatch(stream, opts, ckpt,
      save = (batch, o) => { landed.synchronized { landed += batch.count() }; seenOpts = o })
    val expected = Tables.load(spark, sfDir, "events").count()
    assert(landed.sum == expected,
      s"rows landed ${landed.sum} != source rows $expected")
    assert(seenOpts("batchsize") == "100000" && seenOpts("isolationLevel") == "NONE")
  }

  test("dead-letter split: truncated and entity-less payloads routed out") {
    import spark.implicits._
    val good =
      """{"id":"1","metadata":{"txStartTime":{"TZDT":"2026-01-01T00:00:00.000000Z"}},"event":{"operation":"CREATE","elementId":"e1","labels":["User"]}}"""
    val noEntity =
      """{"id":"2","metadata":{"txStartTime":{"TZDT":"2026-01-01T00:00:00.000000Z"}},"event":{"operation":"CREATE","labels":["User"]}}"""
    val truncated = good.take(25)
    val parsed = graft.sources.CdcJson.parseNodes(
      Seq(good, noEntity, truncated).toDF("raw"), "raw")
    val (valid, dead) = graft.sources.CdcJson.partitionValid(parsed)
    assert(valid.count() == 1)
    assert(valid.head().getAs[String]("entity_id") == "e1")
    val reasons = dead.select("error_reason").collect().map(_.getString(0)).sorted
    assert(reasons.toSeq == Seq("missing_entity", "unparseable"))
    // dead letters keep the raw payload for replay
    assert(dead.select("metadata").collect().map(_.getString(0)).toSet ==
      Set(noEntity, truncated))
  }

  test("multimodal feature extraction: deterministic, batch-size independent") {
    import spark.implicits._
    val media = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("bytes"))
      .as[Multimodal.Media]
    val a = Multimodal.extractFeatures(media, batchSize = 64).collect()
    val b = Multimodal.extractFeatures(media, batchSize = 7).collect()
    val am = a.map(f => f.doc_id -> f).toMap
    val bm = b.map(f => f.doc_id -> f).toMap
    assert(am.keySet == bm.keySet)
    am.foreach { case (id, f) =>
      assert(f.features.toSeq == bm(id).features.toSeq, s"doc $id differs")
      assert(math.abs(f.features.sum - 1.0f) < 1e-3, "histogram normalized")
      assert(f.n_bytes == bm(id).n_bytes)
    }
  }

  test("dedupExactStream suppresses redeliveries, evicts state past the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TtlEv]
    val stream = mem.toDS().toDF()
      .withColumn("fp", md5(col("payload")))
    val q = CdcStream.dedupExactStream(stream, "fp", "ts", "30 seconds")
      .writeStream.format("memory").queryName("pipelinespec_dedup")
      .outputMode(OutputMode.Append()).start()
    // original + in-horizon redelivery (same payload): one row out
    mem.addData(TtlEv(1, ts(100), 1, "payload-A"), TtlEv(2, ts(105), 1, "payload-A"),
                TtlEv(3, ts(100), 1, "payload-B"))
    q.processAllAvailable()
    // redelivery in a later batch, still within the horizon
    mem.addData(TtlEv(4, ts(110), 1, "payload-A"))
    q.processAllAvailable()
    // advance the watermark far past the horizon, then check eviction
    mem.addData(TtlEv(5, ts(1000), 1, "payload-C"))
    q.processAllAvailable()
    mem.addData(TtlEv(6, ts(1010), 1, "payload-D"))
    q.processAllAvailable()
    val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
    q.stop()
    val out = spark.table("pipelinespec_dedup")
      .select("payload").collect().map(_.getString(0)).sorted.toSeq
    assert(out == Seq("payload-A", "payload-B", "payload-C", "payload-D"),
      s"each payload exactly once: $out")
    // A and B (t~100) are far behind the watermark (~970): evicted
    // deterministic: C (t=1000) and D (t=1010) are inside the horizon
    // (expiry 1030/1040 > watermark ~980), A/B are far past it — an
    // exact equality also catches OVER-eviction of live dedup state
    assert(stateRows == 2, s"dedup state should hold exactly C+D: $stateRows")
  }

  test("dedupExactBloomLand: cross-batch suppression via the persisted filter") {
    import graft.operators.Sketches
    val root = Files.createTempDirectory("graft_bloom_stream").toString
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val withFp = docs.withColumn("fp",
      md5(concat_ws("|", col("doc_id"), col("text"))))
    val in = s"$root/in"
    withFp.filter(col("doc_id") % 2 === 0)
      .coalesce(1).write.mode("overwrite").parquet(in)
    withFp.filter(col("doc_id") % 3 === 0)
      .coalesce(1).write.mode("append").parquet(in)
    val bloomPath = s"$root/state/bf.bin"
    val cap = docs.count()
    Sketches.buildExactBloom(withFp.limit(0), "fp", bloomPath, Some(cap))
    val out = s"$root/out"
    def verify = Some(() =>
      if (new java.io.File(out).exists()) spark.read.parquet(out)
      else withFp.limit(0))
    val stream = spark.readStream.schema(withFp.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    CdcStream.dedupExactBloomLand(stream, "fp", bloomPath, cap,
      s"$root/ckpt", save = b => b.write.mode("append").parquet(out),
      verifyAgainst = verify)
    // one file per micro-batch ⇒ the %6==0 overlap arrived in a LATER
    // batch and was suppressed by carried filter state, not in-batch
    val landed = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val want = docs.select("doc_id").collect().map(_.getLong(0))
      .filter(i => i % 2 == 0 || i % 3 == 0).sorted.toSeq
    assert(landed == want, "landed set must be exactly chunk1 ∪ chunk2")
    // day 3 is a pure replay of day 1: a fresh stream (new checkpoint)
    // over the same payloads lands NOTHING — the filter remembers all
    // history, where the watermark variant would have forgotten it
    val in2 = s"$root/in2"
    withFp.filter(col("doc_id") % 2 === 0)
      .coalesce(1).write.parquet(in2)
    CdcStream.dedupExactBloomLand(
      spark.readStream.schema(withFp.schema).parquet(in2),
      "fp", bloomPath, cap, s"$root/ckpt2",
      save = b => b.write.mode("append").parquet(out),
      verifyAgainst = verify)
    assert(spark.read.parquet(out).count() == want.size.toLong,
      "a full replay must land zero new rows")
    // a genuinely new doc still passes the screen and lands
    val in3 = s"$root/in3"
    withFp.limit(0).sparkSession.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(-1L, "novel", "nf")),
      withFp.schema).write.parquet(in3)
    CdcStream.dedupExactBloomLand(
      spark.readStream.schema(withFp.schema).parquet(in3),
      "fp", bloomPath, cap, s"$root/ckpt3",
      save = b => b.write.mode("append").parquet(out),
      verifyAgainst = verify)
    assert(spark.read.parquet(out).count() == want.size + 1L,
      "a new document must land")
  }

  test("frame sampling and resize: chunk arithmetic, budget, determinism") {
    import spark.implicits._
    val media = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("bytes"))
      .as[Multimodal.Media]
    val frames = Multimodal.sampleFrames(media, frameBytes = 100, everyNth = 2)
      .collect()
    assert(frames.nonEmpty)
    assert(frames.forall(_.bytes.length <= 100), "frame size bounded")
    assert(frames.forall(_.frame_idx % 2 == 0), "only every 2nd chunk sampled")
    // frame 0 is byte-for-byte the payload's first chunk
    val payloads = media.collect().map(m => m.doc_id -> m.bytes).toMap
    frames.filter(_.frame_idx == 0).take(20).foreach { f =>
      val want = payloads(f.doc_id).take(100)
      assert(f.bytes.toSeq == want.toSeq, s"frame 0 of doc ${f.doc_id}")
    }
    // resize: under budget, deterministic, pass-through when small
    val resized = Multimodal.resize(media, targetBytes = 256).collect()
    assert(resized.forall(_.bytes.length <= 256), "resize budget held")
    val again = Multimodal.resize(media, targetBytes = 256).collect()
      .map(m => m.doc_id -> m.bytes.toSeq).toMap
    resized.foreach(m => assert(again(m.doc_id) == m.bytes.toSeq))
    val small = Multimodal.resize(media, targetBytes = 1 << 20).collect()
      .map(m => m.doc_id -> m.bytes.toSeq).toMap
    payloads.foreach { case (id, b) =>
      assert(small(id) == b.toSeq, "under-budget payloads pass through")
    }
  }

  test("multimodal operators tolerate null payloads (no task NPE)") {
    import spark.implicits._
    val media = Seq(Multimodal.Media(1L, "abcdef".getBytes("UTF-8")),
                    Multimodal.Media(2L, null)).toDS()
    // null samples to zero frames (the oracle's octet_length skip)
    val frames = Multimodal.sampleFrames(media, frameBytes = 4, everyNth = 1)
      .collect()
    assert(frames.map(_.doc_id).toSet == Set(1L))
    // resize passes the null through 1:1
    val resized = Multimodal.resize(media, targetBytes = 4).collect()
      .map(m => m.doc_id -> m.bytes).toMap
    assert(resized(2L) == null && resized(1L).length <= 4)
    // feature extraction decodes null like an empty payload
    val feats = Multimodal.extractFeatures(media).collect()
      .map(f => f.doc_id -> f.n_bytes).toMap
    assert(feats(2L) == 0 && feats(1L) == 6)
  }

  test("sessionize: exactly-gap boundary merges, state crosses batches, closed sessions emit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[CdcStream.Ev]
    val stream = mem.toDS()
      .select(expr("timestamp_micros(ts_us)").as("ts"),
        col("user_id"), col("value"))
    val q = CdcStream.sessionize(stream, gap = "30 minutes", delay = "1 hour")
      .writeStream.format("memory").queryName("pipelinespec_sess")
      .outputMode(OutputMode.Append()).start()
    val min = 60L * 1000000L
    // user 7: second event lands EXACTLY gap after the first — the
    // boundary case the relational twin must agree on
    mem.addData(CdcStream.Ev(1, 0, 7, "click", 1.0),
                CdcStream.Ev(2, 30 * min, 7, "click", 2.0))
    q.processAllAvailable()
    // cross-batch: 10 min after event 2 (merges into the live session,
    // proving session state survives the micro-batch boundary), then
    // 31 min after that (> gap — a genuinely new session)
    mem.addData(CdcStream.Ev(3, 40 * min, 7, "click", 4.0),
                CdcStream.Ev(4, 71 * min, 7, "click", 8.0))
    q.processAllAvailable()
    // far-future event lifts the watermark past both session ends
    mem.addData(CdcStream.Ev(5, 100000 * min, 9, "view", 1.0))
    q.processAllAvailable()
    val got = spark.table("pipelinespec_sess")
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("s"),
        unix_micros(col("session_window.end")).as("e"),
        col("n_events"), col("sum_value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    // the exactly-gap event MERGED: one session of events {0, 30m,
    // 40m} ending at 40m+gap, then the disjoint 71m session. User 9's
    // session is still open (its end is ahead of the watermark) so
    // Append has not emitted it — closed-session-only emission.
    assert(got == Set(
      (7L, 0L, 70 * min, 3L, 7.0),
      (7L, 71 * min, 101 * min, 1L, 8.0)), s"sessions: $got")
    // bounded state: the two emitted sessions were EVICTED — only the
    // still-open user-9 session may remain in the store
    val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
    assert(stateRows <= 1, s"closed-session state not evicted: $stateRows")
    q.stop()
  }

  test("stream-static enrichment: dim joined per batch, missing key lands as unknown") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[CdcStream.Ev]
    val events = mem.toDS()
      .select(expr("timestamp_micros(ts_us)").as("ts"), col("user_id"),
        col("event_type"), col("value"))
    val dim = Seq((7L, "AUTO"), (8L, "BIKE")).toDF("user_id", "segment")
    val q = CdcStream.enrichCounts(events, dim, "user_id", "segment")
      .writeStream.format("memory").queryName("pipelinespec_enrich")
      .outputMode(OutputMode.Complete()).start()
    mem.addData(CdcStream.Ev(1, 0, 7, "click", 1.0),
                CdcStream.Ev(2, 1, 8, "view", 2.0),
                CdcStream.Ev(3, 2, 9, "click", 4.0)) // user 9: no dim row
    q.processAllAvailable()
    // second batch re-aggregates INTO the running state (user 7 again)
    mem.addData(CdcStream.Ev(4, 3, 7, "click", 8.0))
    q.processAllAvailable()
    val got = spark.table("pipelinespec_enrich")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(got == Set(("AUTO", "click", 2L, 9.0),
                      ("BIKE", "view", 1L, 2.0),
                      ("unknown", "click", 1L, 4.0)), s"enriched: $got")
    q.stop()
  }

  test("stream-stream interval join: window bounds both sides, state evicts past watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lMem = MemoryStream[CdcStream.Ev]
    val rMem = MemoryStream[CdcStream.Ev]
    val clicks = lMem.toDS()
      .select(col("event_id").as("click_id"),
        expr("timestamp_micros(ts_us)").as("ts"), col("user_id"))
    val purchases = rMem.toDS()
      .select(col("event_id").as("purchase_id"),
        expr("timestamp_micros(ts_us)").as("ts"), col("user_id"))
    val joined = CdcStream.intervalJoin(clicks, purchases, "user_id",
      within = "30 minutes", delay = "1 hour")
      .select(col("click_id"), col("purchase_id"))
    val q = joined.writeStream.format("memory")
      .queryName("pipelinespec_ivj")
      .outputMode(OutputMode.Append()).start()
    // base offset well above the initial watermark (epoch 0): a row
    // AT the watermark is dropped as late — boundary pinned here
    val min = 60L * 1000000L
    val t0 = 1000 * min
    // in-window match (10m), out-of-window (40m > 30m), wrong user
    lMem.addData(CdcStream.Ev(1, t0, 7, "click", 0))
    rMem.addData(CdcStream.Ev(10, t0 + 10 * min, 7, "purchase", 0),
                 CdcStream.Ev(11, t0 + 40 * min, 7, "purchase", 0),
                 CdcStream.Ev(12, t0 + 5 * min, 8, "purchase", 0))
    q.processAllAvailable()
    // inner join emits on match, BEFORE any watermark movement
    def pairs() = spark.table("pipelinespec_ivj").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs() == Set((1L, 10L)), s"pairs: ${pairs()}")
    // far-future rows on BOTH sides lift the (min-policy) watermark
    // far past every buffered row's eviction bound …
    lMem.addData(CdcStream.Ev(2, t0 + 10000 * min, 1, "click", 0))
    rMem.addData(CdcStream.Ev(13, t0 + 10000 * min, 2, "purchase", 0))
    q.processAllAvailable()
    // … and the NEXT batch applies it: the 4 batch-1 rows evict
    lMem.addData(CdcStream.Ev(3, t0 + 10001 * min, 1, "click", 0))
    q.processAllAvailable()
    assert(pairs() == Set((1L, 10L)), s"pairs: ${pairs()}")
    val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
    assert(stateRows <= 3, s"interval-join state not evicted: $stateRows")
    q.stop()
  }

  test("stream-stream LEFT interval join: null rows flush on watermark passage") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lMem = MemoryStream[CdcStream.Ev]
    val rMem = MemoryStream[CdcStream.Ev]
    val clicks = lMem.toDS()
      .select(col("event_id").as("click_id"),
        expr("timestamp_micros(ts_us)").as("ts"), col("user_id"))
    val purchases = rMem.toDS()
      .select(col("event_id").as("purchase_id"),
        expr("timestamp_micros(ts_us)").as("ts"), col("user_id"))
    val joined = CdcStream.intervalJoin(clicks, purchases, "user_id",
      within = "30 minutes", delay = "1 hour", joinType = "left_outer")
      .select(col("click_id"), col("purchase_id"))
    val q = joined.writeStream.format("memory")
      .queryName("pipelinespec_ivjl")
      .outputMode(OutputMode.Append()).start()
    val min = 60L * 1000000L
    val t0 = 1000 * min
    // click 1 matches; click 2 (same user, purchase 40m late) does not
    lMem.addData(CdcStream.Ev(1, t0, 7, "click", 0),
                 CdcStream.Ev(2, t0 + min, 9, "click", 0))
    rMem.addData(CdcStream.Ev(10, t0 + 10 * min, 7, "purchase", 0),
                 CdcStream.Ev(11, t0 + 41 * min, 9, "purchase", 0))
    q.processAllAvailable()
    def rows() = spark.table("pipelinespec_ivjl").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    // matched pair emits on match; the UNMATCHED click is still held —
    // its window could yet be filled by a late purchase
    assert(rows() == Set((1L, 10L)), s"rows: ${rows()}")
    // watermark passes click2.ts + 30m (min-policy: both sides must
    // advance) → the NULL-padded row flushes exactly once
    lMem.addData(CdcStream.Ev(3, t0 + 10000 * min, 1, "click", 0))
    rMem.addData(CdcStream.Ev(13, t0 + 10000 * min, 2, "purchase", 0))
    q.processAllAvailable()
    lMem.addData(CdcStream.Ev(4, t0 + 10001 * min, 1, "click", 0))
    q.processAllAvailable()
    assert(rows().contains((2L, -1L)),
      s"unmatched click not flushed: ${rows()}")
    // click 1 must NOT also get a null row (it matched)
    assert(!rows().contains((1L, -1L)), s"matched click null-padded: ${rows()}")
    q.stop()
  }

  test("LEFT interval join: boundary-exact eviction matches the oracle's strict '<' horizon") {
    // ADVICE r12: the stream_interval_left oracle cuts unmatched
    // clicks at a STRICT '<' horizon (click_ms + 30min < watermark_ms)
    // but no fixture exercised a window end landing EXACTLY on the
    // final watermark. Pin it: click A's window end == watermark ms
    // (must NOT flush — strict '<'), click B's window end is 1 ms
    // inside the horizon (must flush a NULL row). delay = 0, the
    // driver entry's configuration.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lMem = MemoryStream[CdcStream.Ev]
    val rMem = MemoryStream[CdcStream.Ev]
    val clicks = lMem.toDS()
      .select(col("event_id").as("click_id"),
        expr("timestamp_micros(ts_us)").as("ts"), col("user_id"))
    val purchases = rMem.toDS()
      .select(col("event_id").as("purchase_id"),
        expr("timestamp_micros(ts_us)").as("ts"), col("user_id"))
    val joined = CdcStream.intervalJoin(clicks, purchases, "user_id",
      within = "30 minutes", delay = "0 seconds", joinType = "left_outer")
      .select(col("click_id"), col("purchase_id"))
    val q = joined.writeStream.format("memory")
      .queryName("pipelinespec_ivjl_boundary")
      .outputMode(OutputMode.Append()).start()
    val min = 60L * 1000000L
    val t0 = 1000 * min
    // click A (id 1): window end t0 + 30min == final watermark exactly
    // click B (id 2): 1 ms earlier → window end 1 ms INSIDE the horizon
    lMem.addData(CdcStream.Ev(1, t0, 5, "click", 0),
                 CdcStream.Ev(2, t0 - 1000, 6, "click", 0))
    // advance: left far ahead, right max EXACTLY t0 + 30min (user 99,
    // matches nothing) → min-policy watermark lands on t0 + 30min ms
    lMem.addData(CdcStream.Ev(3, t0 + 100000 * min, 1, "click", 0))
    rMem.addData(CdcStream.Ev(10, t0 + 30 * min, 99, "purchase", 0))
    q.processAllAvailable()
    // watermark computed at batch end applies next batch: one dummy
    lMem.addData(CdcStream.Ev(4, t0 + 100001 * min, 1, "click", 0))
    q.processAllAvailable()
    val nullClicks = spark.table("pipelinespec_ivjl_boundary").collect()
      .filter(_.isNullAt(1)).map(_.getLong(0)).toSet
    assert(nullClicks.contains(2L),
      s"1ms-inside click not flushed: $nullClicks")
    assert(!nullClicks.contains(1L),
      s"boundary-exact click flushed — Spark eviction is '<=' but the " +
        s"oracle horizon is strict '<': $nullClicks")
    q.stop()
  }

  test("binary metadata matches the underlying payload") {
    val meta = SparkEntry.queries("mm_binary_meta")(spark, sfDir)
    val docs = Tables.load(spark, sfDir, "documents")
    val joined = meta.join(docs, "doc_id")
      .filter(col("n_bytes") =!= length(encode(col("text"), "UTF-8")))
    assert(joined.count() == 0)
  }
}
