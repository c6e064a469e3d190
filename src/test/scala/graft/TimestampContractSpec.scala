package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The event-time data contract (VERDICT r6 #1/#3): the testdata's
  * `events.ts` has shipped as TIMESTAMP(NANOS)-read-as-long in one
  * generation and plain-micros TIMESTAMP_NTZ in the next. The loader
  * and the streaming source must normalize ALL representations to the
  * same session-UTC TIMESTAMP — proven here by running the same rows
  * through three on-disk fixtures and asserting batch latest-state and
  * streaming windowed counts are identical across them — and must fail
  * LOUD, naming table/column/type, on a representation they do not
  * recognize (the r6 silent NTZ pass-through turned one data change
  * into 20 scattered failures).
  */
class TimestampContractSpec extends SparkSpec {

  private lazy val root = {
    val p = java.nio.file.Files.createTempDirectory("graft_ts_contract")
    p.toFile.deleteOnExit()
    p.toString
  }

  /** Deterministic event rows with micros timestamps spanning 3 days,
    * several users, duplicate (user, ts) pairs to exercise tiebreaks. */
  private def baseRows: DataFrame = {
    val s = spark
    import s.implicits._
    val day = 86400000000L // micros
    val t0 = 1700000000000000L
    (0 until 300).map { i =>
      val uid = (i % 7).toLong
      val ts = t0 + ((i / 3) % 3) * day + (i % 50) * 60000000L
      (i.toLong, ts, uid, Seq("create", "update", "delete")(i % 3),
        (i % 10) / 4.0, s"""{"k":$i}""")
    }.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
  }

  /** Write fixture `<root>/<name>/events.parquet` with the given ts
    * column expression, returning the fixture dir. Laid out exactly
    * like the driver testdata — `events.parquet` is a single FILE, not
    * a Spark output directory — so the streaming source's
    * pathGlobFilter sees it the same way. */
  private def fixture(name: String, tsCol: org.apache.spark.sql.Column,
                      check: DataType): String = {
    val dir = s"$root/$name"
    val stage = s"$dir/_stage"
    baseRows
      .select(col("event_id"), tsCol.as("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(fail(s"no part file in $stage"))
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(stage))
    // the fixture is only honest if the round-trip lands the intended
    // representation (e.g. NTZ requires inferTimestampNTZ on read)
    val got = spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
    assert(got == check, s"fixture $name round-tripped as $got, wanted $check")
    dir
  }

  private lazy val nanosDir =
    fixture("nanos", col("ts_us") * 1000L, LongType)
  private lazy val ntzDir =
    fixture("ntz", timestamp_micros(col("ts_us")).cast(TimestampNTZType),
      TimestampNTZType)
  private lazy val ltzDir =
    fixture("ltz", timestamp_micros(col("ts_us")), TimestampType)

  private def allDirs = Seq("nanos" -> nanosDir, "ntz" -> ntzDir,
    "ltz" -> ltzDir)

  test("Tables.load normalizes all three representations to TIMESTAMP") {
    allDirs.foreach { case (name, dir) =>
      val dt = Tables.load(spark, dir, "events").schema("ts").dataType
      assert(dt == TimestampType, s"$name loaded as $dt")
    }
  }

  test("batch cdc_latest_state identical across representations") {
    val results = allDirs.map { case (name, dir) =>
      name -> SparkEntry.queries("cdc_latest_state")(spark, dir)
        .orderBy("user_id").collect().toSeq
    }
    val (refName, ref) = results.head
    results.tail.foreach { case (name, rows) =>
      assert(rows == ref, s"$name != $refName")
    }
    assert(ref.nonEmpty)
  }

  test("streaming eventCounts identical across representations") {
    val results = allDirs.map { case (name, dir) =>
      // (day_us, event_type, cnt, sum_value) through the streaming engine
      name -> SparkEntry.queries("stream_event_counts")(spark, dir)
        .collect().toSeq
    }
    val (refName, ref) = results.head
    results.tail.foreach { case (name, rows) =>
      assert(rows == ref, s"$name != $refName")
    }
    // 3 distinct days × 3 event types — time did NOT collapse
    assert(ref.map(_.getLong(0)).distinct.size == 3, s"days: $ref")
    assert(ref.size == 9)
  }

  test("micros-shipped-as-BIGINT fails loud instead of collapsing 1000x") {
    // a long ts column is only plausible as epoch-NANOS; raw micros
    // (~1.7e15) sits far below the [1990, 2200) nanos window and must
    // raise at materialization, naming table and column (ADVICE r7)
    val dir = s"$root/micros_as_long"
    baseRows
      .select(col("event_id"), col("ts_us").as("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val loaded = Tables.load(spark, dir, "events")
    val e = intercept[Exception] { loaded.select("ts").collect() }
    val msg = Seq(e.getMessage,
      Option(e.getCause).map(_.getMessage).getOrElse("")).mkString(" ")
    assert(msg.contains("events") && msg.contains("ts") &&
      msg.contains("epoch-nanos"), msg)
  }

  test("unsupported ts representation fails loud, naming table+column+type") {
    val dir = s"$root/bad_ts"
    baseRows
      .select(col("event_id"), col("ts_us").cast("string").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalArgumentException] {
      Tables.load(spark, dir, "events")
    }
    assert(e.getMessage.contains("events"), e.getMessage)
    assert(e.getMessage.contains("ts"), e.getMessage)
    assert(e.getMessage.contains("string"), e.getMessage)
  }

  test("schema drift fails loud: wrong-typed column names table+column+actual") {
    val dir = s"$root/bad_value"
    baseRows
      .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
        col("user_id"), col("event_type"),
        col("value").cast("string").as("value"), col("props"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalArgumentException] {
      Tables.load(spark, dir, "events")
    }
    assert(e.getMessage.contains("events"), e.getMessage)
    assert(e.getMessage.contains("value"), e.getMessage)
    assert(e.getMessage.contains("string"), e.getMessage)
    assert(e.getMessage.contains("double"), e.getMessage)
  }

  test("schema drift fails loud: missing column named") {
    val dir = s"$root/missing_col"
    baseRows
      .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalArgumentException] {
      Tables.load(spark, dir, "events")
    }
    assert(e.getMessage.contains("props"), e.getMessage)
  }

  test("extra columns are tolerated (additive drift is harmless)") {
    val dir = s"$root/extra_col"
    baseRows
      .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"),
        lit(1).as("added_later"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    assert(Tables.load(spark, dir, "events").count() == 300)
  }

  test("current testdata passes the contract for every table") {
    Tables.all.foreach { t =>
      val df = Tables.load(spark, sfDir, t)
      assert(df.limit(1).count() >= 0) // analysis + validation succeeded
    }
  }
}
