package graft

import java.net.URI

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.SparkSession

/** Opinionated session builder: the configuration graft's operators
  * are designed against, in one place. Callers may override anything
  * afterwards; an existing session can be upgraded with
  * [[GraftExtensions.register]].
  */
object GraftSession {

  /** Conf every graft deployment wants, cluster or local. */
  val recommendedConf: Map[String, String] = Map(
    // AQE owns runtime join strategy + skew splitting; graft never
    // force-broadcasts dataset-scaled tables (see docs/SCALE.md)
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    // some testdata generations (and Neo4j-exported parquet) carry
    // TIMESTAMP(NANOS); Spark has no nanos type, so those columns read
    // as long and Tables.normalizeEventTime converts (harmless when
    // the data is plain micros timestamp)
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // CDC timestamps are wall-clock UTC end to end
    "spark.sql.session.timeZone" -> "UTC",
    // generated-code cache: one pass of the iterative graph operators
    // (PageRank, coreness, components, two-level Louvain) cycles
    // through ~210 generated classes, and Spark's default of 100
    // entries made every lookup miss, so each pass recompiled ~200
    // classes and re-warmed the JIT on them (~30% of the pass's CPU).
    // 2000 holds that working set with a wide margin. An entry retains
    // ~22 KB of heap (measured: +2.4 MB for 108 more entries), so a
    // full cache holds ~45 MB. Spark sizes this cache once per JVM,
    // from the first session that generates code: build every
    // session through create().
    "spark.sql.codegen.cache.maxEntries" -> "2000",
    // per-session artifact isolation (a Spark Connect feature) stamps
    // each job with its session's UUID, and every streaming query runs
    // in a clone with a new UUID, so each query start gave the
    // executor a new session state and class loader. The cache above
    // is keyed by (class loader, code): every AvailableNow landing
    // missed on code the cache already held, and a cdc_ingest pass
    // recompiled 28 classes. Off, a repeated pass compiles 0 and its
    // process CPU fell ~23%. graft never calls addArtifact; what this
    // gives up is that artifacts added that way would be shared by
    // every session of the JVM. Spark reads it once per session.
    "spark.sql.artifact.isolation.enabled" -> "false",
    // without its native library, Hadoop's local file system starts a
    // `chmod` process per permission set and a `readlink` per link
    // status read, ~35 per streaming micro-batch at ~5 ms each; graft's
    // makes both calls in-process (GraftLocalFileSystem.scala). create()
    // warns when a `file:` FileSystem cached earlier in the JVM keeps
    // Hadoop's class (the cache is keyed by scheme and user, not conf).
    "spark.hadoop.fs.file.impl" -> classOf[GraftLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[GraftLocalFs].getName)

  /** Build a session: recommended conf + native SQL functions
    * registered. `shufflePartitions` should track cluster cores (it
    * is a starting point — AQE coalesces down at runtime). */
  def create(master: String, shufflePartitions: Int,
             appName: String = "graft"): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .withExtensions(new GraftExtensions)
    recommendedConf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    // getOrCreate may have returned a pre-existing session (where
    // withExtensions does not apply) — registration is idempotent
    GraftExtensions.register(spark)
    val local = FileSystem.get(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    if (!local.isInstanceOf[GraftLocalFileSystem])
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"file: FileSystem is ${local.getClass.getName}, not graft's " +
          s"${classOf[GraftLocalFileSystem].getName}: a file: FileSystem was " +
          "cached before the first GraftSession (Hadoop caches FileSystems by " +
          "scheme and user, not by conf), or the SparkContext was built " +
          "without recommendedConf. Without Hadoop's native library each " +
          "checkpoint and parquet write then starts chmod/readlink processes.")
    spark
  }

  /** Run `f` with the session confs `kv` set, then restore each key to
    * its previous value (or unset it). For work whose right setting
    * differs from the session's and cannot be hinted per plan, e.g.
    * a streaming query, which captures its confs at start. Not safe
    * when other work runs on the same session concurrently. */
  def withConf[T](spark: SparkSession, kv: (String, String)*)(f: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally old.foreach { case (k, ov) => ov.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
}
