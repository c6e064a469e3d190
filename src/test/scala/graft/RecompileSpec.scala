package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructType}

import graft.operators.{GraphOps, PipelineOps}
import graft.sinks.JdbcSink
import graft.sources.CdcJson
import graft.streaming.CdcStream

/** Repeated work must reuse Spark's generated-code cache, which is
  * keyed by (class loader, code), instead of compiling again.
  *
  *  - Graph passes: one pass of the iterative graph operators
  *    generates ~200 distinct classes; with Spark's default of 100
  *    cache entries they cycle through the cache, every lookup misses,
  *    and each later pass compiles them all again. With the size
  *    `GraftSession.recommendedConf` sets, a repeated pass compiles at
  *    most a tenth of what the first one did.
  *  - Streaming landings: every streaming query runs in a clone of its
  *    session. With Spark's per-session artifact isolation on, each
  *    clone's jobs get their own executor class loader, so each query
  *    start missed on code the cache held. `recommendedConf` turns the
  *    isolation off, and a repeated landing compiles at most a tenth
  *    of what the first one did.
  */
class RecompileSpec extends SparkSpec {

  System.setProperty("derby.system.home", System.getProperty("java.io.tmpdir"))

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

  /** A small wire-JSON directory in the connector format. */
  private def wireDir(): String = {
    val dir = Files.createTempDirectory("graft_recompile_wire").toString
    CdcJson.synthesizeNodeJson(Tables.load(spark, sfDir, "events").limit(300))
      .write.mode("overwrite").text(dir)
    dir
  }

  /** The reference topology's landing, as `ReferenceTopologySpec` runs
    * it: parse, validity split, an AvailableNow JDBC landing and an
    * AvailableNow monthly-parquet landing, each into a fresh table,
    * zone and checkpoint, so every call starts two new streaming
    * queries. It lands fewer columns than that spec, so its generated
    * code is its own: the first landing compiles even when that spec
    * ran earlier in the JVM. */
  private def landing(wire: String, run: Int): Unit = {
    val landable = CdcJson
      .withValidity(CdcJson.parseNodes(spark.readStream
        .schema(new StructType().add("value", StringType)).text(wire), "value"))
      .filter(col("is_valid"))
      .select(col("event_id").cast("long").as("event_id"),
        col("entity_id"), col("event_type"), col("event_timestamp"))
    val opts = JdbcSink.options("jdbc:derby:memory:graftrecompile;create=true",
      s"recompile_landed_$run", "app", "app", numPartitions = 2,
      driver = "org.apache.derby.jdbc.EmbeddedDriver")
    CdcStream.sinkEachBatch(landable, opts,
      Files.createTempDirectory("graft_recompile_ck").toString)
    CdcStream.landMonthly(landable, "event_timestamp",
      Files.createTempDirectory("graft_recompile_zone").toString,
      Files.createTempDirectory("graft_recompile_ck").toString)
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

  test("a repeated streaming landing reuses its generated code") {
    val wire = wireDir()
    val first = compiles(landing(wire, 1))
    val again = compiles(landing(wire, 2))
    info(s"Janino compiles: first landing $first, repeat $again")
    assert(first > 0, "the landing generated no code, so it checks nothing")
    assert(again * 10 <= first,
      s"the repeated landing compiled $again classes, the first $first")
  }
}
