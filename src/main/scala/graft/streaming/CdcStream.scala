package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, RelationalGroupedDataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._
import graft.operators.Pins

/** SURVEY §2.H — Structured Streaming ingest, the Spark-native form of
  * the reference's Kafka-engine tables + consumer groups
  * (01-init-tables.sql:40-61): `readStream` → the same declarative
  * transforms as batch → a sink. The parse/count/latest-state logic is
  * IDENTICAL code to the batch path (CdcJson / CurrentState-style
  * aggregation); only the source/sink bindings differ — which is the
  * point of Structured Streaming's unified model.
  *
  * Every query graft starts goes through [[runAvailableNow]], which
  * owns the trigger, the checkpoint, the query name and the confs
  * captured at start. The landings ([[sinkEachBatch]],
  * [[dedupExactBloomLand]], [[landStateEachBatch]], [[landMonthly]],
  * [[runToParquet]]) keep the checkpoint their caller passes; the
  * driver entries' memory-sink read-backs give it a fresh staging dir
  * (`graft.queries.PipelineQueries`). Tests and driver entries run
  * file sources; production would bind `format("kafka")` with the
  * same dataflow.
  */
object CdcStream {

  /** Streaming sources need a schema up front, and the events table's
    * `ts` representation is a moving target across testdata
    * generations (nanos-as-long, micros TIMESTAMP_NTZ, micros
    * TIMESTAMP). Pinning a literal schema is how one data regeneration
    * silently collapsed all event time to 1970 — so derive the schema
    * from the actual parquet footer (one driver-side metadata read, no
    * data scan) and let [[graft.Tables.normalizeEventTime]] dispatch
    * on what the footer says, exactly as the batch path does. */
  def diskSchemaOf(spark: SparkSession, path: String): StructType =
    spark.read.parquet(path).schema

  /** Footer-derived schema stream over event-shaped parquet: read with
    * the on-disk schema, then normalize `tsCol` to a session-UTC
    * TIMESTAMP via the same three-representation dispatch the batch
    * loader uses (unknown representations fail loud at the source, not
    * downstream at analysis). */
  def streamEventParquet(spark: SparkSession, dir: String,
                         schemaFrom: String, tsCol: String = "ts",
                         glob: Option[String] = None): DataFrame = {
    val reader = spark.readStream.schema(diskSchemaOf(spark, schemaFrom))
    val withGlob = glob.fold(reader)(g => reader.option("pathGlobFilter", g))
    graft.Tables.normalizeEventTime(withGlob.parquet(dir), dir, tsCol)
  }

  /** A CDC event in flight (timestamps as epoch micros — streaming
    * state should carry primitives, not session-zone objects). */
  final case class Ev(event_id: Long, ts_us: Long, user_id: Long,
                      event_type: String, value: Double)

  /** Latest-state per entity (the ReplacingMergeTree FINAL row). */
  final case class St(user_id: Long, ts_us: Long, event_id: Long,
                      event_type: String, value: Double)

  /** A relationship CDC event in flight — the second record type the
    * generic [[latestBy]] serves (the reference runs nodes AND
    * relationships through the same dedup semantics,
    * 01-init-tables.sql:23-37). */
  final case class RelEv(event_id: String, ts_us: Long, source_id: String,
                         target_id: String, rel_type: String)

  /** [[Ev]] still carrying its TIMESTAMP event-time column: the
    * EventTimeTimeout path ([[latestByExpiring]]) requires the
    * watermarked column to survive into the stateful operator's input
    * — project it away and the analyzer no longer sees the stream as
    * watermarked. */
  final case class EvT(event_id: Long, ts_us: Long, user_id: Long,
                       event_type: String, value: Double,
                       ts: java.sql.Timestamp)

  /** The one way graft starts a streaming query: `sink` shapes the
    * writer (format, output mode, path or foreachBatch), and the query
    * runs under AvailableNow with progress kept at `checkpointDir`,
    * returning once it has terminated. `confs` are the session confs
    * Spark captures at query start (e.g. the stateful shuffle width);
    * they hold from start to termination and are restored after it. A
    * named query is attributable in ProgressCollector rollups (a
    * session can run many; unnamed rows all share ""). */
  def runAvailableNow(df: DataFrame, checkpointDir: String,
                      queryName: Option[String] = None,
                      confs: Seq[(String, String)] = Nil)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit =
    graft.GraftSession.withConf(df.sparkSession, confs: _*) {
      val w = sink(df.writeStream)
        .option("checkpointLocation", checkpointDir)
        .trigger(Trigger.AvailableNow())
      queryName.fold(w)(w.queryName).start().awaitTermination()
    }

  /** The foreachBatch landing shape: `land` runs once per micro-batch
    * under `mode`. */
  private def eachBatch(df: DataFrame, mode: OutputMode, checkpointDir: String,
                        queryName: Option[String])(land: DataFrame => Unit): Unit =
    runAvailableNow(df, checkpointDir, queryName)(_.outputMode(mode)
      .foreachBatch { (batch: Dataset[Row], _: Long) => land(batch.toDF()) })

  /** File-source stream of events (same rows the batch path loads).
    * The file source requires a directory; the testdata lays tables
    * out as single files per dir, so glob-filter to the events file. */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    streamEventParquet(spark, dir, schemaFrom = s"$dir/events.parquet",
      glob = Some("events.parquet"))

  /** Spark option map for a Kafka CDC source, mirroring the
    * reference's ClickHouse Kafka-engine table settings
    * (clickhouse/init/01-init-tables.sql:40-61): broker list
    * (`kafka_broker_list`), topic (`kafka_topic_list`), consumer group
    * (`kafka_group_name`), and a per-trigger row bound
    * (`maxOffsetsPerTrigger` — the Structured Streaming form of
    * `kafka_max_block_size`: it caps rows per micro-batch so a restart
    * against a deep backlog replays in bounded batches instead of one
    * giant catch-up trigger). `failOnDataLoss=false` matches the
    * connector's `errors.tolerance=all` stance
    * (kafka-connect/neo4j-cdc-nodes-source.json): aged-out offsets log
    * and continue rather than kill a perpetual pipeline. Keys with the
    * `kafka.` prefix pass through to the underlying consumer. */
  def kafkaSourceOptions(bootstrapServers: String, topic: String,
                         groupId: String,
                         startingOffsets: String = "earliest",
                         maxOffsetsPerTrigger: Long = 1048576L,
                         failOnDataLoss: Boolean = false): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> bootstrapServers,
      "subscribe" -> topic,
      "kafka.group.id" -> groupId,
      "startingOffsets" -> startingOffsets,
      "maxOffsetsPerTrigger" -> maxOffsetsPerTrigger.toString,
      "failOnDataLoss" -> failOnDataLoss.toString)

  /** A configured Kafka stream reader — the production binding for the
    * same dataflow the file-source entries run. Calling `.load()`
    * requires the spark-sql-kafka connector jar on the cluster
    * classpath (standard on any Spark-with-Kafka deployment; not in
    * this sandbox, so specs assert construction + the wire decode path
    * separately). */
  def readKafka(spark: SparkSession, bootstrapServers: String, topic: String,
                groupId: String,
                startingOffsets: String = "earliest",
                maxOffsetsPerTrigger: Long = 1048576L,
                failOnDataLoss: Boolean = false)
      : org.apache.spark.sql.streaming.DataStreamReader =
    spark.readStream
      .format("kafka")
      .options(kafkaSourceOptions(bootstrapServers, topic, groupId,
        startingOffsets, maxOffsetsPerTrigger, failOnDataLoss))

  /** Kafka wire format → the single raw-string column the reference's
    * JSONAsString queue tables model (`raw String`,
    * 01-init-tables.sql:41): the Kafka source delivers `value` as
    * binary; decode UTF-8 and hand the result to the SAME
    * CdcJson.parseNodes/parseRels columns the batch and file-stream
    * paths use. Works on any frame with a binary `value` column, so
    * the decode+parse pipeline is testable without a broker. */
  def fromKafkaValue(df: DataFrame): DataFrame =
    df.select(col("value").cast("string").as("raw"))

  /** The rollup every event-count shape emits per group: the row
    * count and the 4-dp value sum the oracles recompute. */
  private def countAndSum(groups: RelationalGroupedDataset): DataFrame =
    groups.agg(count(lit(1)).as("cnt"), round(sum(col("value")), 4).as("sum_value"))

  /** H1: tumbling 1-day windowed counts per event type — the
    * streaming twin of cdc_monthly_counts/cdc_event_type_counts; with
    * AvailableNow over a static file set the result equals the batch
    * aggregation, which is exactly what the oracle checks. */
  def eventCounts(events: DataFrame): DataFrame =
    countAndSum(events.groupBy(window(col("ts"), "1 day"), col("event_type")))

  /** [[eventCounts]] with a watermark, for Append-mode production
    * deployments: a window is emitted once the watermark passes its
    * end and its state is then EVICTED — aggregation state stays
    * bounded by (windows in flight × event types) instead of growing
    * with stream lifetime, the property that keeps a perpetual 100 TB
    * /day stream from accreting state. Complete-mode [[eventCounts]]
    * is the finite-backfill/oracle twin; this is the always-on shape.
    * Windows still open when the stream idles past the watermark are
    * emitted on the next trigger after later data arrives (or on
    * AvailableNow termination for closed windows only).
    *
    * H20 (r14): with `slide` < `size` the windows OVERLAP (every
    * `slide`, covering `size`) — the rate/trend view tumbling windows
    * can't give (a spike near a tumbling boundary splits across two
    * buckets; sliding windows always hold one bucket that contains it
    * whole). Spark assigns each event to size/slide epoch-aligned
    * windows via a projection (an Expand, no join); live state is
    * O(windows inside the horizon · types), the tumbling bound times
    * the overlap factor. `slide` = `size` is the tumbling form
    * (`window(ts, d)` is `window(ts, d, d)`). */
  def eventCountsSliding(events: DataFrame, size: String = "6 hours",
                         slide: String = "3 hours",
                         delay: String = "1 day"): DataFrame =
    countAndSum(events.withWatermark("ts", delay)
      .groupBy(window(col("ts"), size, slide), col("event_type")))

  /** H12: streaming sessionization — the always-on twin of the batch
    * lag/gap form (`cdc_sessionize`), on Spark's native
    * `session_window`: per-user sessions grow while consecutive events
    * land within `gap` of each other, and with a watermark Append
    * emits each session EXACTLY ONCE when the watermark passes its end
    * (last event + gap), evicting its state. That eviction is the
    * scale property: state is O(sessions still inside the watermark
    * horizon), not O(users ever seen) — the batch window-function
    * form needs a full per-user sort and cannot run perpetually.
    * Session state is merged incrementally by the dedicated
    * MergingSessions operator (session rows cross the shuffle
    * pre-merged per partition), not re-sorted per trigger.
    *
    * Boundary semantics (pinned by spec): an event exactly `gap` after
    * its predecessor MERGES into the session (sessions merge while
    * nextStart <= prevEnd), so the relational twin's new-session
    * predicate is strictly `ts - prev > gap` — identical to
    * `cdc_sessionize`'s, keeping the two forms row-equal. */
  def sessionize(events: DataFrame, gap: String = "30 minutes",
                 delay: String = "1 day"): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
           round(sum(col("value")), 4).as("sum_value"))

  /** H17 (r10): stream-static enrichment — the streaming form of the
    * reference's node ⋈ dimension join (04-optimize-tables.sql:205-218
    * "complex join") reshaped as an always-on pipeline: each
    * micro-batch of the event stream joins the STATIC dimension
    * table, then rolls up per (segment, event_type). The join is
    * stateless (no watermark needed — only the aggregation holds
    * state), and the static side re-plans per micro-batch, so a
    * dimension republished between triggers is picked up without a
    * restart. At scale the dim side is a key+segment projection —
    * Spark broadcasts it while it fits (the usual dim-table regime)
    * and shuffle-joins beyond; when broadcast, the streamed side
    * never shuffles into the join at all. LEFT join so an event whose
    * key has no dimension row still lands (segment coalesced to
    * 'unknown') — enrichment must not silently drop facts (the
    * reference's errors.tolerance=all stance). */
  def enrichCounts(events: DataFrame, dim: DataFrame,
                   keyCol: String, segCol: String): DataFrame =
    countAndSum(events.join(dim, Seq(keyCol), "left")
      .groupBy(coalesce(col(segCol), lit("unknown")).as(segCol),
               col("event_type")))

  /** H18 (r10): stream-stream INTERVAL join — conversion attribution
    * as an always-on pipeline: each left event (e.g. click) pairs
    * with every right event (e.g. purchase) carrying the same key
    * within `[l.ts, l.ts + within]`. Both sides are watermarked and
    * the join condition time-bounds BOTH event-time columns, which is
    * what lets Spark evict join state: a buffered left row can be
    * dropped once the right watermark passes `l.ts + within`, and a
    * right row once the left watermark passes `r.ts` — state is
    * O(events inside the watermark horizon), never O(stream history).
    * Inner join ⇒ Append emits each matched pair exactly once, as
    * soon as both sides have arrived (no watermark wait on the emit
    * path — the delay only bounds how late data may arrive). The
    * batch twin of this dataflow is `cdc_asof_attribution`'s join
    * phase; this form never holds the full history at once.
    *
    * H19 (r12): `joinType = "left_outer"` answers what the inner join
    * cannot: "which clicks got NO purchase within the window" (VERDICT
    * r11 #7). Unmatched left rows emit NULL-padded — and, unlike the
    * inner join's emit-on-match, that can only happen once the
    * WATERMARK proves no matching right row can still arrive: an
    * unmatched left `l` is held in state until the global watermark
    * (min over both inputs of max-event-time − `delay`) passes
    * `l.ts + within`, then flushes exactly once. Consequences callers
    * must design for (and the `stream_interval_left` oracle encodes):
    *
    *  - unmatched lefts inside the final watermark horizon — rows
    *    with `l.ts + within ≥` the final watermark — are NEVER
    *    emitted by a terminating run (a live pipeline emits them as
    *    the watermark advances past them);
    *  - a full-span `delay` (the H18 inner-join verification trick)
    *    degenerates the left join to the inner join — the watermark
    *    never passes anything, so no NULL row ever flushes. The
    *    verification entry therefore pins `delay` at 0 and encodes
    *    the horizon cut in the batch oracle instead.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
                   within: String, delay: String = "1 day",
                   joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark("ts", delay).alias("l")
    val r = right.withWatermark("ts", delay).alias("r")
    l.join(r,
      col(s"l.$keyCol") === col(s"r.$keyCol") &&
        col("r.ts") >= col("l.ts") &&
        col("r.ts") <= col("l.ts") + expr(s"INTERVAL $within"),
      joinType)
  }

  /** Run a stream into a batch-writer callback via foreachBatch — the
    * reference's end-to-end topology (Kafka → ClickHouse insert) as
    * Structured Streaming: each micro-batch lands through the same
    * batched [[graft.sinks.JdbcSink]] writer the bulk path uses.
    * ClickHouse-style sinks are at-least-once (no transactions); the
    * reference handles replays by downstream dedup (ReplacingMergeTree
    * — our CurrentState), so redelivered batches after a restart are
    * absorbed, not duplicated. `save` is injectable so the wiring is
    * testable without a live endpoint; production default writes JDBC.
    */
  def sinkEachBatch(df: DataFrame,
                    jdbcOpts: Map[String, String],
                    checkpointDir: String,
                    save: (DataFrame, Map[String, String]) => Unit =
                      (b, o) => graft.sinks.JdbcSink.writer(b, o).save(),
                    queryName: Option[String] = None)
      : Unit =
    eachBatch(df, OutputMode.Update(), checkpointDir, queryName)(save(_, jdbcOpts))

  /** Streaming exact dedup — the D1 content-hash dedup as a stream
    * operator, with BOUNDED state: `dropDuplicatesWithinWatermark`
    * holds a key only until the watermark passes its event time plus
    * the delay, so the dedup window is explicit and state is
    * O(keys within the watermark horizon), not O(keys ever seen)
    * (plain streaming dropDuplicates accretes state forever — the
    * same unbounded-state trap latestByExpiring exists to avoid).
    * Exactly the at-least-once absorber the reference relies on
    * ReplacingMergeTree for: redelivered payloads inside the horizon
    * are suppressed; beyond it, downstream CurrentState collapses
    * them. `fpCol` is typically md5/xxhash of the payload. */
  def dedupExactStream(df: DataFrame, fpCol: String, tsCol: String,
                       delay: String): DataFrame =
    df.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(fpCol)

  /** Streaming exact dedup against ALL history with BOUNDED state —
    * the Bloom-filter complement to [[dedupExactStream]]. The
    * watermark variant's state is exact but horizon-limited (a
    * duplicate older than the delay passes); this one's carried state
    * is the persisted content-fingerprint filter from
    * [[graft.operators.Sketches.buildExactBloom]] — MB-scale for
    * millions of docs, never O(keys in state store) — so a document
    * seen LAST MONTH is still suppressed. Per micro-batch:
    *
    *   1. batch-local `dropDuplicates(textCol)` (the filter only
    *      learns a batch's fingerprints after the batch lands, so
    *      within-batch dups are its blind spot — closed here exactly);
    *   2. screen against the filter (`might_contain` literal, zero
    *      shuffle) — unflagged rows are NEW with certainty (no false
    *      negatives);
    *   3. flagged rows ε-verify: anti-join the ~fpp maybes against
    *      `verifyAgainst` (the landed store) so a Bloom false positive
    *      cannot drop a clean document — output is EXACTLY deduped.
    *      Pass None to skip the join and accept ε loss (cheapest);
    *   4. `save` the survivors, then merge their fingerprints into the
    *      filter (published through [[graft.sinks.Publish]]).
    *
    * Save-before-merge ⇒ a crash between the two replays the batch
    * against the PRE-batch filter: survivors re-land (at-least-once,
    * absorbed downstream like every sink here) but nothing is lost —
    * the reverse order could drop data. `capacityItems`/`fpp` must
    * match the filter's build sizing (merge compatibility). */
  def dedupExactBloomLand(df: DataFrame, textCol: String,
                          bloomPath: String, capacityItems: Long,
                          checkpointDir: String,
                          save: DataFrame => Unit,
                          verifyAgainst: Option[() => DataFrame] = None,
                          fpp: Double = 0.01,
                          queryName: Option[String] = None): Unit =
    eachBatch(df, OutputMode.Append(), checkpointDir, queryName) { batch =>
      val local = batch.dropDuplicates(textCol)
      val flag = "__maybe_dup"
      val screened = graft.operators.Sketches
        .screenExactBloom(local, textCol, bloomPath, flag)
      val fresh = screened.filter(!col(flag)).drop(flag)
      val survivors = verifyAgainst match {
        case Some(hist) =>
          fresh.unionByName(
            screened.filter(col(flag)).drop(flag)
              .join(hist().select(textCol).distinct(),
                Seq(textCol), "left_anti"))
        case None => fresh
      }
      // two consumers (save + fingerprint merge); without the pin
      // the screen/verify plan runs twice. The batch's scope releases
      // it ([[graft.operators.Pins]]).
      Pins.scoped {
        val pinned = Pins.pin(survivors)
        save(pinned)
        graft.operators.Sketches
          .mergeExactBloom(pinned, textCol, bloomPath, capacityItems, fpp)
      }
    }

  /** Streaming uniqState materialized view — the reference's
    * AggregatingMergeTree MV fed from Kafka (`uniqState` per key,
    * finalized with `uniqMerge`) as a Structured Streaming landing:
    * each micro-batch folds into ONE persisted per-key HLL state table
    * (read-merge-replace, KBs per key) via the same
    * [[graft.operators.Sketches.distinctState]]/[[graft.operators.Sketches.mergeDistinctStates]]
    * columns the batch path uses. A 100 TB/day stream's "distinct
    * entities per type, ever" stays answerable from |keys| sketch rows
    * — no history re-read, no growing state store (the state lives in
    * parquet, not the streaming state backend).
    *
    * Replay semantics: the HLL leg is IDEMPOTENT under batch replay —
    * re-merging the same values is a set union with itself — so an
    * at-least-once redelivery cannot inflate `uniq_est`. The paired
    * `rows_state` count IS at-least-once (a replayed batch re-adds its
    * row count); treat it as the reference treats its Kafka-consumer
    * row counters — reconciliation-grade, absorbed by downstream
    * validation — or compare it only on clean runs.
    *
    * Each batch publishes through [[landStateEachBatch]]'s
    * [[graft.sinks.Publish]] swap, so a kill mid-publish never loses
    * the accumulated state. Mismatched lgK between the landed state and
    * `lgK` fails loud in the merge (hll_union_agg). */
  def uniqStateLand(df: DataFrame, keyCols: Seq[String], valueCol: String,
                    statePath: String, checkpointDir: String,
                    lgK: Int = 12, queryName: Option[String] = None): Unit =
    landStateEachBatch(df, statePath, checkpointDir,
      buildState = b => graft.operators.Sketches
        .distinctState(b, keyCols, valueCol, lgK),
      mergeStates = st => graft.operators.Sketches
        .mergeDistinctStates(st, keyCols),
      queryName = queryName)

  /** [[uniqStateLand]] for the frequent-items family — the
    * `topKState`-in-a-Kafka-fed-MV analog: per micro-batch the batch's
    * ItemsSketch rows fold into the persisted per-key state table.
    * UNLIKE the HLL landing, the count leg of a topK sketch is NOT
    * idempotent under batch replay (re-merging re-adds counts) — the
    * at-least-once caveat applies to the whole state, the same stance
    * as every count-carrying landing here (absorbed by downstream
    * validation; exactly-once needs the checkpoint and state publish
    * in one transactional store). Mismatched capacity fails loud in
    * the merge (Sketches.mergeTopkStates). */
  def topkStateLand(df: DataFrame, keyCols: Seq[String], valueCol: String,
                    statePath: String, checkpointDir: String,
                    maxItemsTracked: Int = 10000,
                    queryName: Option[String] = None): Unit =
    landStateEachBatch(df, statePath, checkpointDir,
      buildState = b => graft.operators.Sketches
        .topkState(b, keyCols, valueCol, maxItemsTracked),
      mergeStates = st => graft.operators.Sketches
        .mergeTopkStates(st, keyCols, maxItemsTracked),
      queryName = queryName)

  /** Generic mergeable-state landing: per micro-batch, `buildState`
    * reduces the batch to state rows, which `mergeStates` folds into
    * the persisted state table (read-merge-replace; the two callbacks
    * are the `-State` / `-Merge` combinator pair, so ANY member of the
    * Sketches suite lands through this one topology). The merged state
    * is staged and swapped in through [[graft.sinks.Publish]], whose
    * recovery runs at every batch start — a kill mid-publish never
    * loses the accumulated state. */
  def landStateEachBatch(df: DataFrame, statePath: String,
                         checkpointDir: String,
                         buildState: DataFrame => DataFrame,
                         mergeStates: DataFrame => DataFrame,
                         queryName: Option[String] = None): Unit = {
    import org.apache.hadoop.fs.Path
    import graft.sinks.Publish
    val live = new Path(statePath, "state")
    val backup = new Path(statePath, "_graft_prev_state")
    val stage = new Path(statePath, ".graft_state_stage")
    eachBatch(df, OutputMode.Append(), checkpointDir, queryName) { batch =>
      val s = batch.sparkSession
      val fs = live.getFileSystem(s.sparkContext.hadoopConfiguration)
      Publish.recover(fs, live, backup)
      val bState = buildState(batch)
      val merged =
        if (fs.exists(live))
          mergeStates(bState.unionByName(s.read.parquet(live.toString)))
        else bState
      merged.write.mode("overwrite").parquet(stage.toString)
      Publish.replace(fs, live, stage, backup)
    }
  }

  /** Land a stream into the monthly-partitioned parquet layout — the
    * streaming twin of [[graft.sinks.ParquetSink.writeMonthly]], so a
    * CDC stream's landing zone is born with the reference's MergeTree
    * partition layout (01-init-tables.sql:19): time-range queries
    * prune month directories immediately, and retention
    * ([[graft.sinks.ParquetSink.dropMonths]] / `deleteTimeRange`)
    * operates on it directly. Append-mode foreachBatch: replays after
    * a restart re-append, and the downstream latest-state collapse
    * (CurrentState) absorbs duplicates — the same at-least-once
    * stance as the JDBC landing. */
  def landMonthly(df: DataFrame, tsCol: String, path: String,
                  checkpointDir: String,
                  maxRecordsPerFile: Long = 5000000L,
                  queryName: Option[String] = None): Unit =
    eachBatch(df, OutputMode.Append(), checkpointDir, queryName)(
      graft.sinks.ParquetSink.writeMonthly(_, tsCol, path,
        mode = "append", maxRecordsPerFile = maxRecordsPerFile))

  /** H2: incremental ReplacingMergeTree FINAL — newest event per
    * entity held in `GroupState`, re-emitted on update. State is one
    * row per entity (bounded by |entities|, not |events|); a Kafka
    * deployment would add a watermark + state TTL for entity churn. */
  def latestState(events: Dataset[Ev]): Dataset[St] = {
    import events.sparkSession.implicits._
    latestBy[Long, St](
      events.map(e => St(e.user_id, e.ts_us, e.event_id, e.event_type, e.value)),
      _.user_id,
      newer = (a, b) =>
        a.ts_us > b.ts_us || (a.ts_us == b.ts_us && a.event_id > b.event_id))
  }

  /** Generic incremental keyed-latest operator: holds the winning
    * record per key in `GroupState` (state O(|keys|), independent of
    * stream length) and emits it only when it CHANGES — a batch of
    * entirely stale events for a key produces no output, so a
    * downstream change-feed consumer never double-processes an
    * unchanged record. `newer` decides the replacement order — this
    * is ReplacingMergeTree's version-column semantics as a reusable
    * streaming combinator, so BOTH of the reference's CDC streams
    * (nodes AND relationships, 01-init-tables.sql:23-37) run through
    * one operator with their own record types. */
  def latestBy[K, V](ds: Dataset[V], key: V => K, newer: (V, V) => Boolean)(
      implicit ke: org.apache.spark.sql.Encoder[K],
      ve: org.apache.spark.sql.Encoder[V]): Dataset[V] =
    ds.groupByKey(key)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (_: K, it: Iterator[V], state: GroupState[V]) =>
          val prior: Option[V] = state.getOption
          var cur = prior
          it.foreach { e => if (cur.forall(newer(e, _))) cur = Some(e) }
          cur match {
            case Some(v) if !prior.contains(v) =>
              state.update(v); Iterator.single(v)
            case _ => Iterator.empty
          }
      }

  /** Per-entity funnel level emitted as a stream — the incremental
    * twin of [[graft.operators.Funnel.windowFunnel]] (the live "how
    * far did each user get" monitoring feed). The batch DP's state —
    * per level, the latest chain-start timestamp — is a pure left
    * fold over the entity's chronological events, so it carries
    * across micro-batches in `GroupState` verbatim: state is k longs
    * per entity, independent of stream length, and stream-after-N-
    * batches equals the batch operator on the concatenated input
    * EXACTLY (spec'd), provided events arrive in per-entity event-time
    * order across batches — the Kafka key-partitioned CDC delivery
    * shape (within a batch, the group's events are sorted before the
    * fold, so intra-batch disorder is immaterial). Emits (user_id,
    * level) only when the entity's level INCREASES — a batch that
    * only advances chain starts updates state silently. */
  def funnelLevels(events: Dataset[Ev], steps: Seq[Ev => Boolean],
                   windowMicros: Long): Dataset[(Long, Int)] = {
    import events.sparkSession.implicits._
    require(steps.nonEmpty, "funnelLevels needs at least one step")
    val k = steps.length
    val UNSET = Long.MinValue
    def level(best: Array[Long]): Int = {
      var l = 0
      var i = 0
      while (i < k) { if (best(i) != UNSET) l = i + 1; i += 1 }
      l
    }
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Ev], state: GroupState[Array[Long]]) =>
          val best = state.getOption.getOrElse(Array.fill(k)(UNSET))
          val prev = level(best)
          // total (ts, event_id) order within the batch — the same
          // order the batch DP folds in
          it.toArray.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
            // descending levels: each transition reads the PRE-event
            // value of the level below (updated later in the loop),
            // so one event never serves two steps of the same chain
            var i = k - 1
            while (i >= 1) {
              if (steps(i)(e) && best(i - 1) != UNSET &&
                e.ts_us - best(i - 1) <= windowMicros &&
                best(i - 1) > best(i)) best(i) = best(i - 1)
              i -= 1
            }
            if (steps(0)(e) && e.ts_us > best(0)) best(0) = e.ts_us
          }
          state.update(best)
          val now = level(best)
          if (now > prev) Iterator.single((uid, now)) else Iterator.empty
      }
  }

  /** A closed SCD Type-2 version row — emitted exactly once, at the
    * moment the entity's NEXT event closes it. */
  final case class Scd2Row(user_id: Long, version: Long, event_type: String,
                           value: Double, valid_from_us: Long,
                           valid_to_us: Long)

  /** Streaming SCD Type-2 history — the incremental twin of the batch
    * `cdc_history_scd2` build (H14). State per entity = the OPEN
    * version only (version counter + its event, a constant-size
    * record — NOT the entity's history): each arriving event closes
    * the open version, which is emitted exactly once as an immutable
    * [valid_from, valid_to) fact, and becomes the new open version.
    * Append semantics — closed versions never mutate, so the landing
    * sink is append-only parquet (the warehouse history table grows
    * by exactly the event stream); the open tail is the latest-state
    * surface (H2), queryable from state or rebuilt as `current`.
    *
    * Ordering contract (same as [[funnelLevels]]): per-entity
    * event-time order ACROSS batches — the Kafka key-partitioned
    * delivery shape; intra-batch disorder is sorted away. Under that
    * contract stream-after-N-batches == the batch build's closed rows
    * EXACTLY, because the chain build is a pure left fold over the
    * per-entity event sequence (spec: randomized time-contiguous
    * batchings fold to identical histories).
    */
  def scd2Closed(events: Dataset[Ev]): Dataset[Scd2Row] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Ev], state: GroupState[(Long, Ev)]) =>
          var ver = state.getOption.map(_._1).getOrElse(0L)
          var open = state.getOption.map(_._2)
          val out = Seq.newBuilder[Scd2Row]
          it.toArray.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
            open.foreach { o =>
              out += Scd2Row(uid, ver, o.event_type, o.value, o.ts_us, e.ts_us)
            }
            ver += 1
            open = Some(e)
          }
          // a group invoked with events always ends with an open
          // version; state carries exactly one (version, event) pair
          open.foreach(o => state.update((ver, o)))
          out.result().iterator
      }
  }

  /** [[latestBy]] with event-time state TTL — the "watermark + state
    * TTL for entity churn" deployment shape: a perpetual CDC stream
    * accretes one state row per entity EVER SEEN, so at 100 TB/year of
    * churning entities (ephemeral sessions, short-lived edges) the
    * state store grows without bound unless idle keys age out. Keys
    * whose newest event falls `ttl` behind the watermark are evicted
    * (silently — eviction is GC, not a data change; a later event for
    * an evicted key simply re-creates it like a first sighting).
    *
    * The input stream MUST carry a watermark (`withWatermark`) —
    * EventTimeTimeout requires one, and Spark also uses it to drop
    * late events, which is what makes eviction safe: an event that
    * could out-version an evicted key is by definition older than the
    * watermark and never reaches the operator. The timeout lease is
    * re-armed from each key's newest event time, clamped above the
    * current watermark (a timestamp at-or-below it would be rejected).
    */
  def latestByExpiring[K, V](ds: Dataset[V], key: V => K,
                             newer: (V, V) => Boolean,
                             eventTimeUs: V => Long, ttlMs: Long)(
      implicit ke: org.apache.spark.sql.Encoder[K],
      ve: org.apache.spark.sql.Encoder[V]): Dataset[V] = {
    // state = (winning record, max event time EVER SEEN for the key).
    // The max is PERSISTED, not recomputed per batch: a lease armed
    // from only (retained ts, current-batch max) could be re-armed
    // DOWNWARD by a later stale batch whose max undercuts an earlier
    // stale batch's, reopening the premature-eviction window this
    // operator exists to close. With the persisted max the lease is
    // monotone in everything the key has ever seen.
    implicit val stEnc: org.apache.spark.sql.Encoder[(V, Long)] =
      org.apache.spark.sql.Encoders.tuple(
        ve, org.apache.spark.sql.Encoders.scalaLong)
    ds.groupByKey(key)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (_: K, it: Iterator[V], state: GroupState[(V, Long)]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val prior: Option[(V, Long)] = state.getOption
            var cur: Option[V] = prior.map(_._1)
            var maxTsUs = prior.map(_._2).getOrElse(Long.MinValue)
            it.foreach { e =>
              maxTsUs = math.max(maxTsUs, eventTimeUs(e))
              if (cur.forall(newer(e, _))) cur = Some(e)
            }
            cur match {
              case Some(v) =>
                // lease = monotone max(all event times seen) + ttl: a
                // batch of OLDER events can never shorten a live
                // key's lease (early eviction would let a later
                // lower-version event regress the state), and ANY
                // activity extends it — under a version-ordered
                // `newer` (not monotone in event time) a key fed
                // recent-but-lower-version events is active and must
                // not expire. Clamped above the watermark: a
                // timestamp at-or-below it would be rejected, and
                // such a key is due anyway.
                val newestUs = math.max(eventTimeUs(v), maxTsUs)
                val lease = math.max(newestUs / 1000L + ttlMs,
                  state.getCurrentWatermarkMs() + 1L)
                state.update((v, newestUs))
                state.setTimeoutTimestamp(lease)
                if (!prior.map(_._1).contains(v)) Iterator.single(v)
                else Iterator.empty
              case None => Iterator.empty
            }
          }
      }
  }

  /** Land an APPEND-mode stream in a parquet file sink at
    * `$stage/out` (checkpoint at `$stage/ckpt`) — the production
    * landing shape, with driver memory bounded at ANY scale. A memory
    * sink materializes the whole result table ON THE DRIVER, which is
    * fine for the small-output Complete-mode aggregates but measured
    * >1 GB of task-result serialization (over
    * `spark.driver.maxResultSize`) for the row-scaled Append streams at
    * the 100× pack (r10) — row-scaled streaming output belongs in a
    * distributed sink. The Update-mode latest-state entries stay on the
    * memory sink: their output is ENTITY-scaled (bounded by the keyed
    * state the stream already holds), and Update mode has no file sink
    * — their production landing is the foreachBatch upsert that
    * stream_jdbc_land exercises end-to-end. */
  def runToParquet(df: DataFrame, stage: String,
                   confs: (String, String)*): Unit =
    runAvailableNow(df, s"$stage/ckpt", confs = confs)(
      _.format("parquet").option("path", s"$stage/out")
        .outputMode(OutputMode.Append()))
}
