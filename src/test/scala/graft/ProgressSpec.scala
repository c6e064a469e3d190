package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftprobe.ListenerDrain
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.{CdcStream, Progress}

/** The streaming ops surface (VERDICT r3 missing item #1): per-batch
  * input rows, batch duration, state size, and watermark lag must be
  * observable from a collector attached to the session — the
  * `system.kafka_consumers` monitoring analog.
  */
class ProgressSpec extends SparkSpec {
  import spark.implicits._

  test("collector captures rows, duration and state size from latestBy") {
    implicit val sqlCtx = spark.sqlContext
    val c = Progress.attach(spark)
    try {
      val mem = MemoryStream[CdcStream.Ev]
      val q = CdcStream.latestState(mem.toDS()).toDF()
        .writeStream.format("memory").queryName("progressspec_state")
        .outputMode(OutputMode.Update()).start()
      mem.addData(CdcStream.Ev(1, 100, 7, "signup", 1.0),
                  CdcStream.Ev(2, 200, 8, "click", 2.0))
      q.processAllAvailable()
      mem.addData(CdcStream.Ev(3, 300, 7, "purchase", 3.0))
      q.processAllAvailable()
      q.stop()
      // listener-bus delivery is async: drain before reading
      ListenerDrain(spark)
      val rows = c.forQuery("progressspec_state").filter(_.numInputRows > 0)
      assert(rows.size >= 2)
      assert(rows.map(_.numInputRows).sum == 3)
      assert(rows.exists(_.batchDurationMs > 0))
      assert(rows.last.stateRows == 2) // one state row per user key
      // no watermark on a NoTimeout stateful query → no lag notion
      assert(rows.forall(_.watermarkLagMs.isEmpty))
      // the DataFrame surface supports engine-side health rollups
      val df = c.toDF(spark).filter(col("queryName") === "progressspec_state")
      assert(df.agg(sum("numInputRows")).first().getLong(0) >= 3L)
      // Spark's per-trigger phase split rides along: the sink's share
      // of a trigger is at most the whole trigger, batchDurationMs
      val phases = df.filter(col("numInputRows") > 0)
        .select(col("durationsMs")("addBatch"),
          col("durationsMs")("triggerExecution"), col("batchDurationMs"))
        .collect()
      assert(phases.nonEmpty)
      assert(phases.forall(r => !r.isNullAt(0) && r.getLong(0) <= r.getLong(1) &&
        r.getLong(1) == r.getLong(2)), phases.mkString(", "))
    } finally Progress.detach(spark, c)
  }

  test("watermark lag reflects max event time minus watermark") {
    implicit val sqlCtx = spark.sqlContext
    val c = Progress.attach(spark)
    try {
      val mem = MemoryStream[CdcStream.Ev]
      val counts = CdcStream.eventCountsSliding(
        mem.toDF().withColumn("ts", timestamp_micros(col("ts_us"))),
        size = "1 day", slide = "1 day", delay = "1 hour")
      val q = counts.writeStream.format("memory").queryName("progressspec_wm")
        .outputMode(OutputMode.Append()).start()
      val hourUs = 3600L * 1000000L
      val base = 1700000000000000L
      mem.addData(CdcStream.Ev(1, base, 7, "a", 1.0),
                  CdcStream.Ev(2, base + 24 * hourUs, 8, "b", 1.0))
      q.processAllAvailable()
      mem.addData(CdcStream.Ev(3, base + 48 * hourUs, 7, "c", 1.0))
      q.processAllAvailable()
      q.stop()
      ListenerDrain(spark)
      val rows = c.forQuery("progressspec_wm")
      // batch 2 runs with watermark = batch-1 max − 1 h and sees a max
      // event time 24 h later: lag is defined and at least the delay
      val lagged = rows.filter(r =>
        r.numInputRows > 0 && r.watermarkLagMs.exists(_ > 0))
      assert(lagged.nonEmpty, s"no lagged batch in: $rows")
      assert(lagged.last.watermarkLagMs.get >= 3600L * 1000L)
      assert(lagged.last.watermark.isDefined &&
             lagged.last.maxEventTime.isDefined)
    } finally Progress.detach(spark, c)
  }
}
