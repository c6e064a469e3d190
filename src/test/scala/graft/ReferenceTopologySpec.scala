package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftprobe.ListenerDrain
import org.apache.spark.sql.types.{StringType, StructType}
import graft.operators.CurrentState
import graft.sinks.{JdbcSink, ParquetSink}
import graft.streaming.CdcStream

/** The reference's ENTIRE topology, end to end, on this library:
  *
  *   connector wire JSON → (Kafka stand-in: staged files) →
  *   streaming PERMISSIVE parse (the kafka_mv) → validity split →
  *   landed BOTH in a real JDBC store (Derby, standing in for
  *   ClickHouse) AND the monthly-partitioned parquet layout →
  *   ReplacingMergeTree-FINAL latest state over the landing zone,
  *   which must equal the latest state computed directly from the
  *   source events.
  *
  * This is the "a user of the reference could switch" proof in one
  * dataflow: every hop of `docs/QUICKSTART.md:162-170`'s architecture
  * diagram runs through graft operators, and the OLAP-side answer is
  * checked against ground truth.
  */
class ReferenceTopologySpec extends SparkSpec {

  System.setProperty("derby.system.home", System.getProperty("java.io.tmpdir"))

  test("wire JSON -> stream parse -> split -> Derby + monthly parquet -> FINAL") {
    val events = Tables.load(spark, sfDir, "events")
    val nEvents = events.count()
    // the ops surface rides along: the progress collector must observe
    // every landing hop of the topology (the system.kafka_consumers
    // monitoring analog), without touching the dataflow
    val monitor = graft.streaming.Progress.attach(spark)
    try {

    // Kafka stand-in: stage the connector wire format as text files
    val staging = Files.createTempDirectory("graft_topo_wire").toString
    graft.sources.CdcJson.synthesizeNodeJson(events)
      .write.mode("overwrite").text(staging)
    def wireStream = spark.readStream
      .schema(new StructType().add("value", StringType))
      .text(staging)

    // the kafka_mv: in-stream parse + validity classification; only
    // valid rows land (dead letters would route to the replay queue)
    def landable = graft.sources.CdcJson
      .withValidity(graft.sources.CdcJson.parseNodes(wireStream, "value"))
      .filter(col("is_valid"))
      .select(col("event_id").cast("long").as("event_id"),
        col("event_type"), col("entity_id"),
        col("event_timestamp"), col("properties_after"))

    // hop 1: land in a real JDBC store through the batched sink
    val opts = JdbcSink.options("jdbc:derby:memory:graftdb;create=true",
      "topology_landed", "app", "app", numPartitions = 2,
      driver = "org.apache.derby.jdbc.EmbeddedDriver")
    val ckpt1 = Files.createTempDirectory("graft_topo_ck1").toString
    CdcStream.sinkEachBatch(landable, opts, ckpt1,
      queryName = Some("topo_jdbc_hop"))
    assert(JdbcSink.read(spark, opts).count() == nEvents,
      "every wire payload landed in the OLAP store")

    // hop 2: land the same stream in the monthly parquet layout
    val zone = Files.createTempDirectory("graft_topo_zone").toString
    val ckpt2 = Files.createTempDirectory("graft_topo_ck2").toString
    CdcStream.landMonthly(landable, "event_timestamp", zone, ckpt2,
      queryName = Some("topo_parquet_hop"))
    val landed = ParquetSink.readMonthly(spark, zone)
    assert(landed.count() == nEvents)

    // OLAP side: FINAL over the landing zone == latest state computed
    // straight from the source table (the ReplacingMergeTree check)
    val got = CurrentState.latest(landed.drop("month"), "entity_id",
        Seq("event_timestamp", "event_id"))
      .select(col("entity_id"), col("event_id"))
    val want = CurrentState.latest(
        events.select(col("user_id").cast("string").as("entity_id"),
          col("event_id"), col("ts")),
        "entity_id", Seq("ts", "event_id"))
      .select(col("entity_id"), col("event_id"))
    assert(got.exceptAll(want).count() == 0 &&
           want.exceptAll(got).count() == 0,
      "landing-zone FINAL state equals source-of-truth latest state")

    // both streaming hops produced per-batch progress accounting for
    // every wire row. Count ONLY this test's named hops: the session
    // (and its listener bus) is shared across concurrently-running
    // suites, so an unfiltered sum would race their streams
    // (listener delivery is async — drain the bus first).
    ListenerDrain(spark)
    val rowsSeen = (monitor.forQuery("topo_jdbc_hop") ++
      monitor.forQuery("topo_parquet_hop")).map(_.numInputRows).sum
    assert(rowsSeen == 2 * nEvents,
      s"monitor saw $rowsSeen rows, expected ${2 * nEvents} (2 hops)")
    } finally graft.streaming.Progress.detach(spark, monitor)
  }
}
