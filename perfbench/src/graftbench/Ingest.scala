package graftbench

import java.io.File
import java.sql.DriverManager
import java.time.Instant

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.types.{StringType, StructType}

import graft.operators.CurrentState
import graft.sinks.{JdbcSink, ParquetSink}
import graft.sources.CdcJson
import graft.streaming.CdcStream

/** Streaming progress of every query in the session, by query name. */
final class ProgressLog extends StreamingQueryListener {
  private val buf = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized(buf += e.progress)

  /** Remove and return the progress of query `name`. */
  def take(name: String): Vector[StreamingQueryProgress] = synchronized {
    val (mine, rest) = buf.partition(_.name == name)
    buf.clear(); buf ++= rest
    mine.toVector
  }
}

/** `cdc_ingest`: connector wire JSON streamed through the reference
  * topology — permissive parse, validity split, JDBC landing into
  * embedded Derby, monthly-parquet landing — one file per trigger.
  * One op is a pass over every wire file, node stream then
  * relationship stream, each through the JDBC hop then the parquet
  * hop, into a fresh table, zone and checkpoint. The write path
  * (`sources`, `streaming`, `sinks`) does nearly all the work.
  *
  * With 1,000-row files both the per-batch fixed cost (offset
  * discovery, planning, WAL and commit writes) and the per-row cost
  * (parse, JDBC inserts, parquet encode) show; each pass also pays
  * four query starts. The input is small so that a run holds several
  * passes: the per-batch cost, not the volume, is what this host can
  * measure steadily. */
final class Ingest(seed: Long) extends Workload {
  import Ingest._

  private var spark: SparkSession = _
  private var tracer: Tracer = _
  private var dir: File = _
  private var gen: Gen.Cdc = _
  private var wireBytes = 0L
  private val log = new ProgressLog
  private var clockOffsetNs = 0L

  // samples across the run's ops
  private val jdbcBatchMs = mutable.ArrayBuffer.empty[Double]
  private val parquetBatchMs = mutable.ArrayBuffer.empty[Double]
  private val phaseMs = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val parseMs = mutable.ArrayBuffer.empty[Double] // traced only
  private val jdbcSaveMs = mutable.ArrayBuffer.empty[Double] // traced only
  private val parquetAddMs = mutable.ArrayBuffer.empty[Double]
  private var inputRows, landedRows, jdbcRows, parquetFiles, parquetBytes, passes = 0L

  private case class Kind(name: String, evs: Vector[Gen.Ev]) {
    def wire(root: File) = new File(root, name).getPath
    lazy val valid: Int = evs.count(_.valid)
    lazy val latest: Set[String] =
      Ref.latest(evs).values.map(e => s"${e.entity}|${e.eventId}").toSet
    /** Planted defects by kind: what graft's dead letters must hold. */
    lazy val planted: Map[String, Long] =
      evs.flatMap(_.defect).groupBy(identity).map { case (d, xs) => d -> xs.length.toLong }
  }
  private var kinds: Seq[Kind] = Nil

  def setup(s: SparkSession, t: Tracer, d: File): Unit = {
    spark = s; tracer = t; dir = d
    spark.streams.addListener(log)
    clockOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    gen = Gen.cdc(seed, NodeRows, RelRows, Entities, RelRows / RelRowsPerMonth)
    kinds = Seq(Kind("nodes", gen.nodes), Kind("rels", gen.rels))
    val wire = new File(dir, "wire")
    wireBytes = Gen.writeFiles(new File(wire, "nodes"), gen.nodeLines, BatchRows) +
      Gen.writeFiles(new File(wire, "rels"), gen.relLines, BatchRows)
  }

  def references(): Unit = kinds.foreach { k => k.latest; k.planted }

  def warmup(): () => Outcome = pass("warm", new File(dir, "wire"), 0L, sample = false)

  def op(index: Int, opSpan: Long): () => Outcome =
    pass(s"p$index", new File(dir, "wire"), opSpan, sample = true)

  /** One pass over the wire files under `wire`; returns the untimed
    * checks, which also drop the pass's table, zone and checkpoints.
    * Only a `sample` pass adds to the run's figures. */
  private def pass(tag: String, wire: File, opSpan: Long, sample: Boolean): () => Outcome = {
    val root = new File(dir, s"pass_$tag")
    val hops = kinds.map { k =>
      val table = s"landed_${k.name}_$tag"
      val jdbc = JdbcSink.options(DerbyUrl, table, "app", "app",
        numPartitions = Runtime.getRuntime.availableProcessors(), driver = DerbyDriver)
      val jdbcQ = s"jdbc_${k.name}_$tag"
      val nodes = k.name == "nodes"
      tracer.span(s"streaming.jdbc_${k.name}", "streaming", opSpan) { hop =>
        CdcStream.sinkEachBatch(landable(spark, nodes, k.wire(wire), jdbc = true), jdbc,
          new File(root, s"ck_jdbc_${k.name}").getPath, save = saveHook(hop, sample),
          queryName = Some(jdbcQ))
      }
      val zone = new File(root, s"zone_${k.name}")
      val parquetQ = s"parquet_${k.name}_$tag"
      val parquetHop = tracer.span(s"streaming.parquet_${k.name}", "streaming", opSpan) { hop =>
        CdcStream.landMonthly(landable(spark, nodes, k.wire(wire), jdbc = false),
          "event_timestamp", zone.getPath, new File(root, s"ck_parquet_${k.name}").getPath,
          queryName = Some(parquetQ))
        hop
      }
      (k, table, jdbcQ, zone, parquetQ, parquetHop)
    }
    () => {
      tracer.drain() // every progress event of the pass has arrived
      val failures = mutable.ArrayBuffer.empty[String]
      hops.foreach { case (k, table, jdbcQ, zone, parquetQ, parquetHop) =>
        val jp = log.take(jdbcQ)
        val pp = log.take(parquetQ)
        val derbyRows = count(table)
        // input rows from the parquet hop: a traced JDBC hop runs each
        // batch twice (parse, then save), and its source counts both
        val wireRows = pp.map(_.numInputRows).sum
        val landed = ParquetSink.readMonthly(spark, zone.getPath).drop("month")
        val zoneRows = landed.count()
        def expect(what: String, got: Long, want: Long): Unit =
          if (got != want) failures += s"${k.name} $what: got $got, want $want"
        expect("wire rows streamed", wireRows, k.evs.length)
        expect("Derby rows (valid wire rows)", derbyRows, k.valid)
        expect("parquet zone rows", zoneRows, k.valid)
        val dead = deadLetters(k.name == "nodes", k.wire(wire))
        if (dead != k.planted)
          failures += s"${k.name} dead letters by reason: got $dead, planted ${k.planted}"
        val fin = CurrentState.latest(landed, "entity_id", Seq("event_timestamp", "event_id"))
          .select(col("entity_id"), col("event_id")).collect()
          .map(r => s"${r.getString(0)}|${r.getLong(1)}").toSet
        if (fin != k.latest)
          failures += s"${k.name} FINAL over the zone differs from the reference " +
            s"(${(fin diff k.latest).size} extra, ${(k.latest diff fin).size} missing)"
        if (sample) {
          val (files, bytes) = FileTree.sizeOf(zone, ".parquet")
          inputRows += wireRows; landedRows += derbyRows; jdbcRows += derbyRows
          parquetFiles += files; parquetBytes += bytes
          jdbcBatchMs ++= jp.map(durMs(_, "triggerExecution"))
          parquetBatchMs ++= pp.map(durMs(_, "triggerExecution"))
          parquetAddMs ++= pp.map(durMs(_, "addBatch"))
          (jp ++ pp).foreach { p =>
            Phases.foreach(ph => phaseMs.getOrElseUpdate(ph, mutable.ArrayBuffer.empty) +=
              durMs(p, ph))
          }
          // the parquet hop has no hook: its sink time comes from progress
          pp.foreach { p =>
            val endNs = Instant.parse(p.timestamp).toEpochMilli * 1000000L + clockOffsetNs +
              (durMs(p, "triggerExecution") - durMs(p, "commitOffsets")).toLong * 1000000L
            tracer.record("sinks.parquet", "sinks", parquetHop,
              endNs - (durMs(p, "addBatch") * 1e6).toLong, endNs)
          }
        }
        drop(table)
      }
      if (sample) passes += 1
      FileTree.deleteTree(root)
      Outcome(Seq(s"pass $tag" -> failures.toSeq))
    }
  }

  /** The JDBC hop's `save`: in a traced op the batch's parse and
    * validity split are first materialized on their own, so the parse
    * shows as a layer; then the batch lands through the JDBC sink. */
  private def saveHook(hop: Long, sample: Boolean): (DataFrame, Map[String, String]) => Unit =
    (b, o) => {
      if (tracer.active) {
        val t0 = System.nanoTime()
        tracer.span("sources.parse", "sources", hop)(_ => b.queryExecution.toRdd.count())
        if (sample) parseMs += (System.nanoTime() - t0) / 1e6
      }
      val t0 = System.nanoTime()
      tracer.span("sinks.jdbc", "sinks", hop)(_ => JdbcSink.writer(b, o).save())
      if (sample && tracer.active) jdbcSaveMs += (System.nanoTime() - t0) / 1e6
    }

  /** graft's dead letters of the wire files, counted by reason: the
    * invalid side of `CdcJson.partitionValid`. */
  private def deadLetters(nodes: Boolean, wire: String): Map[String, Long] = {
    val raw = spark.read.schema(new StructType().add("value", StringType)).text(wire)
    val parsed = if (nodes) CdcJson.parseNodes(raw, "value") else CdcJson.parseRels(raw, "value")
    CdcJson.partitionValid(parsed)._2.groupBy("error_reason").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  private def durMs(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  private def count(table: String): Long = {
    val c = DriverManager.getConnection(DerbyUrl)
    try {
      val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
      rs.next(); rs.getLong(1)
    } finally c.close()
  }

  private def drop(table: String): Unit = {
    val c = DriverManager.getConnection(DerbyUrl)
    try c.createStatement().execute(s"DROP TABLE $table")
    catch { case _: java.sql.SQLException => () } // never created: the pass failed early
    finally c.close()
  }

  def inputRecord: Map[String, Any] = Map(
    "nodes" -> Gen.props(gen.nodes).toMap,
    "rels" -> Gen.props(gen.rels).toMap,
    "batch_rows" -> BatchRows, "wire_bytes" -> wireBytes,
    "planted_shares" -> Map("out_of_order" -> gen.shares.outOfOrder,
      "redelivered" -> gen.shares.redelivered, "corrupt" -> gen.shares.corrupt,
      "timestamp_tie" -> gen.shares.tie))

  private def validPerPass: Long = kinds.map(_.valid.toLong).sum

  private def rowsPerS(opSeconds: Seq[Double]): Double =
    validPerPass * opSeconds.length / opSeconds.sum

  def record(opSeconds: Seq[Double]): Map[String, Any] = Map(
    "ingest_rows_per_s" -> rowsPerS(opSeconds),
    "op_definition" -> "one wire event landed in both sinks",
    "jdbc_batch_ms" -> Stats.summary(jdbcBatchMs.toSeq),
    "parquet_batch_ms" -> Stats.summary(parquetBatchMs.toSeq),
    "landed_bytes_per_wire_byte" -> parquetBytes.toDouble / (wireBytes * passes))

  def layers: Map[String, Double] = {
    def med(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)
    Map(
      "sources.parse_ms" -> med(parseMs),
      "sources.valid_frac" -> landedRows.toDouble / inputRows,
      "streaming.latest_offset_ms" -> med(phaseMs("latestOffset")),
      "streaming.plan_ms" -> med(phaseMs("queryPlanning")),
      "streaming.get_batch_ms" -> med(phaseMs("getBatch")),
      "streaming.wal_commit_ms" -> med(phaseMs("walCommit")),
      "streaming.commit_ms" -> med(phaseMs("commitOffsets")),
      "sinks.jdbc_ms" -> med(jdbcSaveMs),
      "sinks.jdbc_rows" -> jdbcRows.toDouble / passes,
      "sinks.parquet_ms" -> med(parquetAddMs),
      "sinks.parquet_files" -> parquetFiles.toDouble / passes,
      "sinks.parquet_bytes" -> parquetBytes.toDouble / passes)
  }

  /** The same pass on `local[1]`, beside the reference's published
    * "10K+ ops/sec, single instance" (an op here is one wire event
    * landed in both sinks). */
  override def traceExtras(opSeconds: Seq[Double],
                           newSession: (String, Int) => SparkSession): Map[String, Double] = {
    val parallel = rowsPerS(opSeconds)
    spark = newSession("local[1]", 1)
    spark.streams.addListener(log)
    val wire = new File(dir, "wire")
    pass("warm1", wire, 0L, sample = false)()
    val t0 = System.nanoTime()
    val check = pass("single", wire, 0L, sample = false)
    val single = validPerPass / ((System.nanoTime() - t0) / 1e9)
    val failures = check().failures
    require(failures.isEmpty, s"local[1] pass failed: ${failures.mkString("; ")}")
    Map("ingest.rows_per_s" -> parallel, "ingest.local1_rows_per_s" -> single,
      "ingest.speedup" -> parallel / single,
      "ingest.vs_10k_claim" -> parallel / 10000.0)
  }
}

object Ingest {
  val NodeRows = 2000
  val RelRows = 2000
  val Entities = 300
  /** A time-ordered stream: about one micro-batch per month partition
    * (the reference's 150K relationship events span 80 months). */
  val RelRowsPerMonth = 1000
  val BatchRows = 1000
  val DerbyUrl = "jdbc:derby:memory:graftbench;create=true"
  val DerbyDriver = "org.apache.derby.jdbc.EmbeddedDriver"
  val Phases = Seq("latestOffset", "queryPlanning", "getBatch", "walCommit", "commitOffsets")

  /** Wire files → parse → validity split → valid rows only, projected
    * for a hop, one file per trigger. Derby has no array type, so only
    * the parquet hop keeps labels. */
  def landable(spark: SparkSession, nodes: Boolean, wire: String, jdbc: Boolean): DataFrame = {
    val raw = spark.readStream.schema(new StructType().add("value", StringType))
      .option("maxFilesPerTrigger", 1).text(wire)
    val parsed = CdcJson.withValidity(
      if (nodes) CdcJson.parseNodes(raw, "value") else CdcJson.parseRels(raw, "value"))
      .filter(col("is_valid"))
    val common = Seq(col("event_id").cast("long").as("event_id"), col("event_type"),
      col("entity_id"), col("event_timestamp"))
    val rest: Seq[Column] =
      if (nodes) (if (jdbc) Nil else Seq(col("labels")))
      else Seq(col("relationship_type"), col("source_id"), col("target_id"))
    parsed.select(common ++ rest :+ col("properties_after"): _*)
  }
}
