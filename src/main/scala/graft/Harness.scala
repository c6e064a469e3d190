package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftprobe.ListenerDrain

/** graft's diagnostics main. It runs the entries `SPARK_GRAFT_ONLY`
  * selects (unset: the full pack) at `SPARK_GRAFT_SF_DIR` on
  * `local[SPARK_GRAFT_CPUS]`, the session [[Bench]] times them in, in
  * one of two modes:
  *
  *   - `probe [runs]` (default 6): after one untimed warmup, each entry
  *     runs `runs` times under one listener ([[Tally]]). Per run it
  *     prints one JSON line, also appended to
  *     `bench_runs/probe_<entry>.jsonl`: wall s, executor run/CPU, GC,
  *     input bytes, records and MB/s, shuffle read/write, spill, task
  *     count and skew (max / median task ms), load average and page
  *     cache. After the last run it prints that run's per-job table and
  *     its top-40 stages by executor time. Equal input, shuffle and skew
  *     across runs whose wall time spreads with input MB/s is host
  *     (page-cache) drift; a wall spread without an MB/s spread, or a
  *     shuffle or spill delta, is the plan doing different work.
  *   - `plans <file.md>`: writes each entry's formatted physical plan,
  *     then the Bloom screen's plan and the final adaptive plan of a
  *     skewed join, to the file. The full pack at sf0.01 on `local[8]`
  *     is `docs/PLANS.md`; a subset gives an optimization's before and
  *     after plans.
  *
  * Run: `sbt "runMain graft.Harness probe 3"`.
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val work = prepare(args.toSeq, sys.env.get(SparkEntry.OnlyEnv))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.create(s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("WARN")
    try work(spark, sfDir) finally spark.stop()
  }

  /** The work `args` name, with every input checked before a session
    * exists: the mode and its argument, the selected entries (`only`
    * is the `SPARK_GRAFT_ONLY` value), and the plans mode's pins. */
  def prepare(args: Seq[String], only: Option[String]): (SparkSession, String) => Unit = {
    val names = SparkEntry.selectedEntries(only)
    args match {
      case Seq("probe", rest @ _*) if rest.size <= 1 =>
        val runs = rest.headOption.fold(6)(_.toInt)
        require(runs >= 1, s"probe: runs must be at least 1, got $runs")
        (spark, sfDir) => probe(spark, sfDir, names, runs)(report(runs))
      case Seq("plans", file) =>
        val stale = pinned.keySet -- SparkEntry.queries.keySet
        require(stale.isEmpty, s"plans: pinned ${stale.mkString(", ")} is no SparkEntry key")
        (spark, sfDir) => {
          val path = Paths.get(file)
          Option(path.getParent).foreach(Files.createDirectories(_))
          Files.writeString(path, plans(spark, sfDir, names))
          println(s"wrote $file (${names.size} plans + dedup_bloom_screen + aqe_skew_join)")
        }
      case _ => throw new IllegalArgumentException(
        s"usage: graft.Harness probe [runs] | plans <file.md>, got ${args.mkString(" ")}")
    }
  }

  /** One stage's counters, summed over its tasks as they end. */
  final class Stage(val id: Int, val jobId: Int, val name: String) {
    var tasks, runMs, cpuNs, gcMs, inBytes, inRecs = 0L
    var shufRead, shufWrite, memSpill, diskSpill, maxTaskMs = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }

  /** A job's start and end, in listener-event time (ms). */
  final case class Job(id: Int, startMs: Long, endMs: Long)

  /** The one listener: the stages and jobs the session ran since the
    * last [[take]]. Call [[take]] after [[ListenerDrain]]: the bus
    * delivers events asynchronously, and an event still queued at
    * [[take]] is missing from what it returns. */
  final class Tally extends SparkListener {
    private var stages = mutable.LinkedHashMap.empty[Int, Stage]
    private var jobs = mutable.LinkedHashMap.empty[Int, Job]
    private val stageJob = mutable.HashMap.empty[Int, Int]

    private def stage(id: Int, name: String) =
      stages.getOrElseUpdate(id, new Stage(id, stageJob.getOrElse(id, -1), name))

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs(e.jobId) = Job(e.jobId, e.time, -1L)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      stage(e.stageInfo.stageId, e.stageInfo.name)
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      Option(t.taskMetrics).foreach { m =>
        val s = stage(t.stageId, "")
        s.tasks += 1; s.runMs += m.executorRunTime; s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.inBytes += m.inputMetrics.bytesRead; s.inRecs += m.inputMetrics.recordsRead
        s.shufRead += m.shuffleReadMetrics.totalBytesRead
        s.shufWrite += m.shuffleWriteMetrics.bytesWritten
        s.memSpill += m.memoryBytesSpilled; s.diskSpill += m.diskBytesSpilled
        s.maxTaskMs = math.max(s.maxTaskMs, m.executorRunTime)
        s.durations += m.executorRunTime
      }
    }

    /** The stages and jobs so far, leaving the tally empty. */
    def take(): (Seq[Stage], Seq[Job]) = synchronized {
      val out = (stages.values.toSeq, jobs.values.toSeq)
      stages = mutable.LinkedHashMap.empty; jobs = mutable.LinkedHashMap.empty
      stageJob.clear()
      out
    }
  }

  /** One timed run of an entry: its wall time, rows, host context, and
    * the drained tally of every stage and job it ran. */
  final case class Run(entry: String, run: Int, wallS: Double, rows: Long,
                       loadAvg: Double, cachedKb: Long, stages: Seq[Stage], jobs: Seq[Job]) {
    private def sum(f: Stage => Long): Long = stages.iterator.map(f).sum
    def tasks: Long = sum(_.tasks)
    def inputRecs: Long = sum(_.inRecs)

    /** The run's JSON line, summed over its stages. */
    def json: String = {
      val ds = stages.flatMap(_.durations).sorted
      val p50 = if (ds.isEmpty) 0L else ds(ds.length / 2)
      val maxMs = if (stages.isEmpty) 0L else stages.map(_.maxTaskMs).max
      val skew = if (p50 > 0) maxMs.toDouble / p50 else 0.0
      val inBytes = sum(_.inBytes)
      val mbps = if (wallS > 0) inBytes / 1e6 / wallS else 0.0
      f"""{"entry":${Verify.jsonString(entry)},"run":$run,"wall_s":$wallS%.2f,"rows":$rows,"exec_run_s":${sum(_.runMs) / 1e3}%.1f,"exec_cpu_s":${sum(_.cpuNs) / 1e9}%.1f,"gc_s":${sum(_.gcMs) / 1e3}%.2f,"input_mb":${inBytes / 1e6}%.1f,"input_recs":$inputRecs,"input_mbps":$mbps%.1f,"shuf_read_mb":${sum(_.shufRead) / 1e6}%.1f,"shuf_write_mb":${sum(_.shufWrite) / 1e6}%.1f,"spill_mem_mb":${sum(_.memSpill) / 1e6}%.1f,"spill_disk_mb":${sum(_.diskSpill) / 1e6}%.1f,"tasks":$tasks,"task_p50_ms":$p50,"task_max_ms":$maxMs,"task_skew":$skew%.1f,"load_avg":$loadAvg%.2f,"page_cache_gb":${cachedKb / 1048576.0}%.1f}"""
    }
  }

  /** The probe mode: each entry once untimed, then `runs` timed runs,
    * each handed to `each` as it ends. */
  def probe(spark: SparkSession, sfDir: String, names: Seq[String], runs: Int)(
      each: Run => Unit): Unit = {
    val tally = new Tally
    spark.sparkContext.addSparkListener(tally)
    try names.foreach { name =>
      // the warmup pays codegen compile and catalog, as in Bench
      try SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()
      catch { case e: Throwable => println(s"warmup $name: $e") }
      (1 to runs).foreach(i => each(timedRun(spark, tally, name, sfDir, i)))
    } finally spark.sparkContext.removeSparkListener(tally)
  }

  /** One timed run of `name` under `tally`, which `spark` must deliver
    * to. The bus is drained before the tally is emptied and again
    * before it is read, so the run holds exactly its own events. */
  def timedRun(spark: SparkSession, tally: Tally, name: String, sfDir: String, run: Int): Run = {
    val fn = SparkEntry.queries(name)
    System.gc()
    val load = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val cached = cachedKb
    ListenerDrain(spark)
    tally.take()
    val t0 = System.nanoTime()
    val rows = fn(spark, sfDir).queryExecution.toRdd.count()
    val wall = (System.nanoTime() - t0) / 1e9
    ListenerDrain(spark)
    val (stages, jobs) = tally.take()
    Run(name, run, wall, rows, load, cached, stages, jobs)
  }

  private def cachedKb: Long =
    try scala.util.Using.resource(scala.io.Source.fromFile("/proc/meminfo"))(_.getLines()
      .find(_.startsWith("Cached:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L))
    catch { case _: Throwable => -1L }

  private def report(runs: Int)(r: Run): Unit = {
    Files.createDirectories(Paths.get("bench_runs"))
    val line = r.json
    println(line)
    Files.writeString(Paths.get(s"bench_runs/probe_${r.entry}.jsonl"), line + "\n",
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    if (r.run == runs) summary(r).foreach(println)
  }

  /** A run's per-job table, in job-end order, and its top-40 stages by
    * executor time. */
  def summary(r: Run): Seq[String] = {
    val jobs = r.jobs.sortBy(j => (j.endMs, j.id)).zipWithIndex.map { case (j, i) =>
      val ss = r.stages.filter(_.jobId == j.id)
      def kb(f: Stage => Long) = ss.map(f).sum / 1024
      f"  job#$i%02d id=${j.id} wall=${j.endMs - j.startMs}%5d ms " +
        f"tasks=${ss.map(_.tasks).sum}%4d run=${ss.map(_.runMs).sum}%6d ms " +
        f"shufR=${kb(_.shufRead)}%7d KB shufW=${kb(_.shufWrite)}%7d KB " +
        f"in=${kb(_.inBytes) / 1024}%5d MB"
    }
    val stages = r.stages.sortBy(-_.runMs).take(40).map(s =>
      f"  stage=${s.id}%4d run=${s.runMs}%6d ms tasks=${s.tasks}%4d  ${s.name}")
    (f"ENTRY ${r.entry} rows=${r.rows} wall=${r.wallS}%.2f s  jobs=${r.jobs.size}" +: jobs) ++
      ("STAGES (by executor-run desc, top 40):" +: stages)
  }

  /** The plans mode: the formatted physical plan of each of `names`,
    * then the `dedup_bloom_screen` and `aqe_skew_join` sections, as one
    * markdown document. */
  def plans(spark: SparkSession, sfDir: String, names: Seq[String]): String = {
    val sb = new StringBuilder("# Physical plans (generated by `graft.Harness plans`)\n\n")
    sb ++= "Audit notes per query follow the plan. Regenerate after any\n"
    sb ++= "operator change (`SPARK_GRAFT_ONLY=<entries>` for a subset):\n"
    sb ++= s"`SPARK_GRAFT_SF_DIR=$sfDir SPARK_GRAFT_CPUS=${spark.sparkContext.defaultParallelism} " +
      "sbt \"runMain graft.Harness plans <file.md>\"`.\n"
    val entries = SparkEntry.queries
    def section(title: String, plan: String): Unit =
      // binary literals (the Bloom filter riding the plan) print as
      // multi-KB hex blobs; the audit reads shapes
      sb ++= s"\n## $title\n\n```\n" ++=
        plan.replaceAll("0x[0-9A-Fa-f]{64}[0-9A-Fa-f]*", "0x<elided-binary>") ++= "```\n"
    names.foreach { name =>
      val (build, note) = pinned.getOrElse(name, (entries(name), ""))
      section(name + note, build(spark, sfDir).queryExecution.explainString(FormattedMode))
    }
    // two audits no entry runs. The daily-ingest exact screen: the
    // audit point is the ABSENCE of Exchange/Join, since history rides
    // the plan as a filter literal.
    val bloom = Files.createTempDirectory("graft_plansbloom").resolve("bf.bin").toString
    graft.operators.Sketches.buildExactBloom(Tables.load(spark, sfDir, "documents").limit(100),
      "text", bloom, expectedItems = Some(10000L))
    section("dedup_bloom_screen (the daily-ingest exact screen — audit point is the " +
      "ABSENCE of Exchange/Join: history is a filter literal)",
      graft.operators.Sketches.screenExactBloom(
        Tables.load(spark, sfDir, "documents").select("doc_id", "text"), "text", bloom)
        .filter(!col("maybe_dup")).queryExecution.explainString(FormattedMode))
    // The FINAL adaptive plan of a zipf-keyed shuffle join at
    // test-scaled thresholds, captured after execution: `skew=true` on
    // the SortMergeJoin is the runtime split SCALE.md's skew claim
    // rests on (ScaleGuardSpec checks the same join's result)
    val skewConf = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32k",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16k",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    GraftSession.withConf(spark, skewConf: _*) {
      val left = spark.range(0, 200000).select(
        when(col("id") % 10 =!= 0, lit(0L)).otherwise(col("id")).as("k"), col("id").as("v"))
      val right = spark.range(0, 2000).select(col("id").as("k"), (col("id") * 2).as("w"))
      val joined = left.join(right, "k")
        .agg(count(lit(1)).as("n"), sum(col("v") + col("w")).as("chk"))
      joined.collect()
      section("aqe_skew_join (final adaptive plan after execution — zipf key carries " +
        "90% of the left side; thresholds scaled to test data, structure identical " +
        "at 256 MB defaults)", joined.queryExecution.executedPlan.toString)
    }
    sb.toString
  }

  private val lshNote = " (pinned tables=16 bits=4 — the bucketed plan SHAPE; auto " +
    "mode scales bits/tables with the corpus and the sf0.01 driver entry " +
    "cost-falls-back to exact)"

  /** Entries the plans mode renders at a fixed operating point, with
    * the note its title carries. At sf0.01 each entry's cost-based
    * selection rightly keeps its small-input plan (exact loop join,
    * self-join, wedge join), but the audit is of the plan a 100× corpus
    * executes. PlanSpec asserts the pinned shapes hold no loop join;
    * the plans mode refuses to start when a pin names no entry. */
  private val pinned: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "dedup_embedding_lsh" -> ((s: SparkSession, d: String) =>
      graft.operators.Dedup.embeddingPairsLsh(
        Tables.load(s, d, "embeddings"), "vec_id", "embedding", tau = 0.4,
        tables = Some(16), bits = Some(4)).orderBy("i", "j"), lshNote),
    "sim_lsh_ann" -> ((s: SparkSession, d: String) =>
      graft.operators.Similarity.lshTopK(
        Tables.load(s, d, "embeddings"), "vec_id", "embedding",
        tables = Some(16), bits = Some(4)).orderBy("q_id", "rk"), lshNote),
    // the audit point is the partial HashAggregate directly over the
    // pair Generate, before the exchange
    "graph_node_similarity" -> ((s: SparkSession, d: String) =>
      graft.operators.GraphOps.nodeSimilarity(
        Tables.load(s, d, "lineitem").join(Tables.load(s, d, "orders"),
          col("l_orderkey") === col("o_orderkey")).select(col("l_suppkey"), col("o_custkey")),
        entity = "l_suppkey", feature = "o_custkey",
        featCap = 500L, topK = 20, postingCutover = 0L),
      " (pinned postingCutover=0 — the posting-array pair-generation SHAPE a " +
        "100× graph executes; the sf0.01 driver entry cost-selects the " +
        "small-graph self-join)"),
    // the audit point is the Generate/intersect stack with no
    // wedge-stream Exchange between the adjacency joins and the corner
    // aggregate
    "graph_triangles" -> ((s: SparkSession, d: String) => {
      val li = Tables.load(s, d, "lineitem").filter(col("l_quantity") <= 25)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val edges = li.as("x").join(li.as("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("a"), col("y.pk").as("b")).distinct()
      graft.operators.GraphOps.triangleCounts(edges, adjCutover = 0L).orderBy("node")
    }, " (pinned adjCutover=0 — the adjacency-intersect wedge-generation SHAPE " +
      "a 100× graph executes; the sf0.01 driver entry cost-selects the " +
      "small-graph wedge join)"))
}
