package graft.sinks

import java.time.YearMonth
import java.time.format.DateTimeFormatter

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** SURVEY §2.I2 — month-partitioned parquet sink: the storage layout
  * of the reference's MergeTree tables (`PARTITION BY
  * toYYYYMM(event_timestamp)`, 01-init-tables.sql:19) as a parquet
  * directory tree. Time-range queries then prune whole month
  * directories before row-group stats even apply, and retention
  * (month drops) is a directory delete rather than a delete-by-query.
  */
object ParquetSink {

  /** The toYYYYMM partition key. */
  def monthKey(ts: Column): Column = date_format(ts, "yyyyMM")

  /** Write `df` partitioned by month of `tsCol`. `maxRecordsPerFile`
    * bounds file size under skewed months (one hot month must not
    * become one giant file). */
  def writeMonthly(df: DataFrame, tsCol: String, path: String,
                   mode: String = "append",
                   maxRecordsPerFile: Long = 5000000L): Unit =
    df.withColumn("month", monthKey(col(tsCol)))
      .write
      .partitionBy("month")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .mode(mode)
      .parquet(path)

  /** Read back a monthly-partitioned tree; `month` is a partition
    * column, so month-range filters prune directories at planning
    * time. */
  def readMonthly(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** The reference's `OPTIMIZE TABLE ... FINAL` as a job
    * (04-optimize-tables.sql:24-48): collapse an event log to its
    * latest state per entity and rewrite it month-partitioned. In
    * ClickHouse this is a scheduled merge over the whole table; here
    * it is one `max_by` hash-agg (shuffle payload ~|entities|) plus a
    * partitioned write — run it periodically to keep the "current
    * state" table cheap to scan, while the raw event log remains the
    * source of truth.
    */
  def compactToLatest(events: DataFrame, entityCol: String,
                      orderCols: Seq[String], tsCol: String, path: String,
                      mode: String = "overwrite"): Unit =
    writeMonthly(
      graft.operators.CurrentState.latest(events, entityCol, orderCols),
      tsCol, path, mode)

  /** Month partition values present under a monthly-partitioned tree
    * (directory listing only — no data read). Only well-formed yyyyMM
    * values are returned: a null-timestamp row lands under
    * `month=__HIVE_DEFAULT_PARTITION__`, which is NOT a month — it
    * must never be parsed by retention date math (it would abort the
    * whole operation) nor silently dropped as "old" (it is not
    * comparable to any cutoff). Retention deliberately never touches
    * the null partition. */
  def listMonths(spark: SparkSession, path: String): Seq[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith("month="))
      .map(_.stripPrefix("month="))
      .filter(m => m.length == 6 && m.forall(_.isDigit))
      .sorted
  }

  /** Per-month storage statistics — the reference's `system.parts`
    * disk-usage rollup (README.md:575-580: sum(rows), sum bytes, part
    * counts per table) for the monthly parquet layout, METADATA-ONLY:
    * file counts and byte sizes come from the directory listing, row
    * counts from one zero-data-column Spark job whose parquet scan
    * reads footers/row-group counts, never column pages — so the cost
    * is O(files), not O(data), at any table size. Output:
    * (month, files, bytes, rows), months ascending; the null-timestamp
    * `__HIVE_DEFAULT_PARTITION__` is excluded like everywhere else in
    * the retention/stats surface. */
  def statsMonthly(spark: SparkSession, path: String): DataFrame = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val months = listMonths(spark, path)
    val fileStats = months.map { m =>
      val data = fs.listStatus(new Path(root, s"month=$m")).toSeq
        .filter(_.isFile)
        .filterNot { st =>
          val n = st.getPath.getName
          n.startsWith("_") || n.startsWith(".")
        }
      Row(m, data.length.toLong, data.map(_.getLen).sum)
    }
    val listed = spark.createDataFrame(
      spark.sparkContext.parallelize(fileStats, 1),
      StructType(Seq(
        StructField("month", StringType, nullable = false),
        StructField("files", LongType, nullable = false),
        StructField("bytes", LongType, nullable = false))))
    if (months.isEmpty) return listed.withColumn("rows", lit(0L))
    // partition-value inference may type `month` as int — normalize to
    // the listing's string form for the join. A tree whose month dirs
    // hold no readable parquet at all (e.g. only a _SUCCESS marker
    // from a crashed write) makes the read throw rather than count —
    // exactly the broken state a stats call must still REPORT, so fall
    // back to rows=0 and keep the listing-side files/bytes columns.
    val rowCounts =
      try spark.read.parquet(path)
        .groupBy(col("month").cast("string").as("month"))
        .agg(count(lit(1)).as("rows"))
      catch { case _: org.apache.spark.sql.AnalysisException =>
        listed.select(col("month"), lit(0L).as("rows")).limit(0)
      }
    listed.join(rowCounts, Seq("month"), "left")
      .select(col("month"), col("files"), col("bytes"),
        coalesce(col("rows"), lit(0L)).as("rows"))
      .orderBy("month")
  }

  /** Retention by partition drop — the reference's `ALTER TABLE ...
    * DROP PARTITION` against `PARTITION BY toYYYYMM`
    * (01-init-tables.sql:19) as a Spark-layout operation: months
    * strictly before `beforeMonth` (yyyyMM) are deleted as whole
    * directories. Metadata-only — no row is ever read, which is what
    * makes retention O(months) instead of O(data) at 100 TB. Returns
    * the dropped months. */
  def dropMonths(spark: SparkSession, path: String,
                 beforeMonth: String): Seq[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val drop = listMonths(spark, path).filter(_ < beforeMonth)
    drop.foreach(m => fs.delete(new Path(p, s"month=$m"), true))
    drop
  }

  private val monthFmt = DateTimeFormatter.ofPattern("yyyyMM")

  /** Time-range delete (SURVEY §1 item 6): remove rows with
    * `fromTs <= tsCol < untilTs`, touching only the partitions the
    * range overlaps — months fully inside the range are dropped as
    * directories (no read, like [[dropMonths]]); the at-most-two
    * boundary months are rewritten (read ONLY that month's directory,
    * filter, stage the survivors, publish through [[Publish]] with the
    * backup at `_graft_replaced_month=<m>`), and every other
    * partition's files are left bit-for-bit untouched. That bounds the
    * rewrite cost at two months of data regardless of table size — a
    * delete-by-query over the whole table would be O(table). A
    * boundary month with no survivors is dropped like a fully covered
    * one. Every call first recovers any month a previous run left
    * mid-publish. Crash-safe, not reader-atomic (see [[Publish]]).
    * Timestamps are ISO strings interpreted in the session time zone.
    * Returns (droppedMonths, rewrittenMonths). */
  def deleteTimeRange(spark: SparkSession, path: String, tsCol: String,
                      fromTs: String, untilTs: String)
      : (Seq[String], Seq[String]) = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.globStatus(new Path(root, "_graft_replaced_month=*")).foreach { st =>
      Publish.recover(fs,
        new Path(root, st.getPath.getName.stripPrefix("_graft_replaced_")),
        st.getPath)
    }
    val from = java.time.LocalDateTime.parse(fromTs.replace(' ', 'T'))
    val until = java.time.LocalDateTime.parse(untilTs.replace(' ', 'T'))
    val inRange = col(tsCol) >= lit(fromTs).cast("timestamp") &&
      col(tsCol) < lit(untilTs).cast("timestamp")
    val affected = listMonths(spark, path).flatMap { m =>
      val ym = YearMonth.parse(m, monthFmt)
      val mStart = ym.atDay(1).atStartOfDay()
      val mEnd = ym.plusMonths(1).atDay(1).atStartOfDay()
      if (!mEnd.isAfter(from) || !mStart.isBefore(until)) None // untouched
      else Some(m -> (!mStart.isBefore(from) && !mEnd.isAfter(until)))
    }
    val (full, boundary) = affected.partition(_._2)
    full.foreach { case (m, _) => fs.delete(new Path(root, s"month=$m"), true) }
    val rewritten = boundary.map(_._1).filter { m =>
      val dir = new Path(root, s"month=$m")
      val tmp = new Path(root, s".graft_rewrite_month_$m")
      // ONE data scan: write survivors to staging, then decide from
      // the staged output's row count — a zero-column count over the
      // staged parquet reads only row-group metadata, so checking
      // emptiness costs no second pass over the month. Row-level, NOT
      // file-size: Spark always writes a footer-only part for
      // partition 0, so "any part file > 0 bytes" is true even for
      // zero surviving rows — an emptied boundary month must become
      // a partition DROP, not a published empty directory.
      spark.read.parquet(dir.toString).filter(!inRange)
        .write.mode("overwrite").parquet(tmp.toString)
      val kept = spark.read.parquet(tmp.toString).count() > 0L
      if (kept) Publish.replace(fs, dir, tmp,
        new Path(root, s"_graft_replaced_month=$m"))
      else {
        fs.delete(tmp, true)
        fs.delete(dir, true)
      }
      kept
    }
    (full.map(_._1) ++ boundary.map(_._1).diff(rewritten), rewritten)
  }

  /** Bucketed layout for co-located joins: tables bucketed AND sorted
    * on the same join key join with zero shuffle and zero sort (the
    * exchange is eliminated at planning time — see ParquetSinkSpec).
    * This is the layout to land CDC streams in when the dominant
    * downstream pattern is repeated joins/aggregations on
    * `entity_id`: the shuffle is paid once at write, not per query.
    * Bucket count is a capacity decision (files ≈ buckets ×
    * writer-partitions) — at 100 TB pick buckets so a bucket fits an
    * executor's scan budget. */
  def writeBucketed(df: DataFrame, keyCol: String, buckets: Int,
                    tableName: String, path: Option[String] = None): Unit = {
    val w = df.write
      .format("parquet")
      .bucketBy(buckets, keyCol)
      .sortBy(keyCol)
      .mode("overwrite")
    // explicit path → external table: the catalog entry (which carries
    // the bucketing metadata the planner needs) stays in the session,
    // the data lands where the caller can manage its lifecycle
    path.fold(w)(p => w.option("path", p)).saveAsTable(tableName)
  }
}
