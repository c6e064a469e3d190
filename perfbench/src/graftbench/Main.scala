package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one op's checks found: for each checked unit (a pass, a query
  * execution, an operator call) its failures, empty when it passed. */
final case class Outcome(units: Seq[(String, Seq[String])]) {
  def attempted: Int = units.length
  def failed: Int = units.count(_._2.nonEmpty)
  def failures: Seq[String] = units.flatMap { case (u, fs) => fs.map(f => s"$u: $f") }
}

object Outcome {
  def threw(what: String, e: Throwable): Outcome = Outcome(Seq(what -> Seq(s"threw $e")))
}

/** A benchmark workload. `setup` generates the inputs (from the seed
  * alone) into a fresh directory and lands them where the ops read
  * them; `references` computes the plain-Scala results the checks
  * compare with; `warmup` and `op` run one op and return its untimed
  * checks and cleanup. */
trait Workload {
  def setup(spark: SparkSession, tracer: Tracer, dir: File): Unit
  /** The checks' reference results, from the inputs of the last
    * `setup`: benchmark code, kept out of every timed interval. */
  def references(): Unit
  /** One op that adds nothing to the run's samples. */
  def warmup(): () => Outcome
  def op(index: Int, opSpan: Long): () => Outcome
  def inputRecord: Map[String, Any]
  /** The workload's own end-to-end figures, for the run record. */
  def record(opSeconds: Seq[Double]): Map[String, Any]
  /** Per-layer metrics of a traced run, from its traced ops. */
  def layers: Map[String, Double]
  /** Extra traced-only measurements that need their own session. */
  def traceExtras(opSeconds: Seq[Double],
                  newSession: (String, Int) => SparkSession): Map[String, Double] = Map.empty
}

/** Runs one workload: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir>`. Prints the run record as one JSON line
  * and the result object as the last line of standard output. */
object Main {

  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3
  /** Timed ops per run at least (twice that in a traced run): the
    * first timed op is still on the JIT's warm-up curve, and a median
    * of three leaves it out. */
  val MinOps = 3

  /** Timed ops for a run of `seconds`: about one per three seconds, a
    * fixed count rather than "until the time is up", so every run
    * samples the same points of the JIT's warm-up curve. */
  def opsFor(seconds: Double): Int = math.max(MinOps, math.round(seconds / 3).toInt)
  /** A run stops making timed ops after this long, even short of its
    * count, so a slow host still ends the run in time. */
  val HardCapSeconds = 100.0

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  val Workloads: Seq[String] = Seq("cdc_ingest", "cdc_query", "graph_loops")

  def workload(name: String, seed: Long): Workload = name match {
    case "cdc_ingest" => new Ingest(seed)
    case "cdc_query" => new Query(seed)
    case "graph_loops" => new Graph(seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = new File(opts("work"))
    val nproc = Runtime.getRuntime.availableProcessors()
    val wl = workload(name, seed)

    // set-up, several times. Each one starts a fresh session and
    // generates and lands the inputs; the first counts from JVM start,
    // so it also pays loading every class. Stopping the previous
    // session and the plain-Scala references are not timed. The
    // warm-up op then runs once, in the last session.
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val mainEntryS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    var spark: SparkSession = null
    var tracer: Tracer = null
    val setupS = (1 to SetupReps).map { rep =>
      if (spark != null) spark.stop()
      FileTree.deleteTree(new File(work, s"setup${rep - 1}"))
      val t0 = System.nanoTime() -
        (if (rep == 1) (System.currentTimeMillis() - jvmStartMs) * 1000000L else 0L)
      spark = Main.session(s"local[$nproc]", nproc)
      tracer = new Tracer(spark)
      wl.setup(spark, tracer, new File(work, s"setup$rep"))
      (System.nanoTime() - t0) / 1e9
    }
    wl.references()
    val w0 = System.nanoTime()
    val warmCheck =
      try wl.warmup() catch { case e: Throwable => () => Outcome.threw("warm-up", e) }
    val warmupS = (System.nanoTime() - w0) / 1e9
    val warm = try warmCheck() catch { case e: Throwable => Outcome.threw("check of warm-up", e) }

    // measure: in a traced run, odd ops are traced and even ones not,
    // so the two halves see the same host conditions
    case class OpRun(span: Long, traced: Boolean, wallS: Double, cpuS: Double,
                     outcome: Outcome)
    val runs = mutable.ArrayBuffer.empty[OpRun]
    var heapPeakMb = 0.0
    var checkS = 0.0
    val steal0 = cpuTicks()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val ops = opsFor(seconds) * (if (trace) 2 else 1)
    while (runs.length < ops && elapsed < HardCapSeconds) {
      val i = runs.length
      val traced = trace && i % 2 == 1
      if (traced) tracer.start()
      var span = 0L
      val cpu0 = osBean.getProcessCpuTime
      val w0 = System.nanoTime()
      val check: () => Outcome =
        try tracer.span("op", "op", 0L) { id => span = id; wl.op(i, id) }
        catch { case e: Throwable => () => Outcome.threw(s"op $i", e) }
      val wall = (System.nanoTime() - w0) / 1e9
      val cpu = (osBean.getProcessCpuTime - cpu0) / 1e9
      if (traced) tracer.stop()
      val c0 = System.nanoTime()
      val outcome =
        try check() catch { case e: Throwable => Outcome.threw(s"check of op $i", e) }
      checkS += (System.nanoTime() - c0) / 1e9
      // after the first op only, so every run samples the heap at the
      // same point
      if (runs.isEmpty) {
        tracer.drain()
        heapPeakMb = retainedHeapMb()
      }
      runs += OpRun(span, traced, wall, cpu, outcome)
    }

    val measureS = elapsed
    val stealFrac = for (a <- steal0; b <- cpuTicks()) yield stealShare(a, b)
    val untraced = runs.filterNot(_.traced)
    val tracedRuns = runs.filter(_.traced)
    val outcomes = warm +: runs.map(_.outcome).toSeq
    val attempted = outcomes.map(_.attempted).sum
    val failures = outcomes.flatMap(_.failures)
    val failed = outcomes.map(_.failed).sum
    failures.take(20).foreach(f => System.err.println(s"[graftbench] FAILED: $f"))

    // the op's process CPU time, not its wall time: on a shared host
    // the wall time of the same op varies with other guests' load by
    // about twice as much, so it stays in the record only
    val e2e: Map[String, (Double, String)] = Map(
      "setup_s" -> (Stats.median(setupS) -> "s"),
      "op_cpu_s" -> (Stats.median(untraced.map(_.cpuS).toSeq) -> "s"),
      "heap_peak_mb" -> (heapPeakMb -> "MB"))

    val ctx = context(spark, nproc)
    val layer: Map[String, Double] = if (!trace) Map.empty else {
      val opSpans = tracedRuns.map(_.span).toSet
      val all = tracer.all
      val nOps = opSpans.size.toDouble
      val c = tracer.sum(all.filter(s => opSpans(s.op)))
      val self = tracer.selfTimes().filter { case (op, _) => opSpans(op) }
      val layers = Seq("sources", "streaming", "sinks", "queries", "operators", "unattributed")
      val selfMs = layers.map { l =>
        s"self.${l}_ms" -> self.values.map(_.getOrElse(l, 0L)).sum / 1e6 / nOps
      }
      val overhead = Stats.median(tracedRuns.map(_.wallS).toSeq) /
        Stats.median(untraced.map(_.wallS).toSeq) - 1
      tracer.write(new File(work, "spans.jsonl"))
      val extras = wl.traceExtras(untraced.map(_.wallS).toSeq, { (master, n) =>
        spark.stop(); spark = session(master, n); spark
      })
      Map("spark.jobs_per_op" -> c.jobs / nOps,
        "spark.tasks_per_op" -> c.tasks / nOps,
        "spark.cpu_s" -> c.cpuNs / 1e9 / nOps,
        "spark.gc_ms" -> c.gcMs / nOps,
        "spark.shuffle_mb" -> c.shuffleWrite / 1048576.0 / nOps,
        "spark.unattributed_jobs" -> tracer.unattributedJobs.toDouble,
        "trace.overhead_frac" -> overhead) ++ selfMs ++ wl.layers ++ extras
    }

    val record = Map(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "context" -> ctx, "input" -> wl.inputRecord,
      "jvm_to_main_s" -> mainEntryS, "setup_s_each" -> setupS, "warmup_s" -> warmupS, "measure_s" -> measureS,
      "host_steal_frac" -> stealFrac.getOrElse(-1.0), "check_s" -> checkS,
      "ops" -> runs.length,
      "ops_traced" -> tracedRuns.length,
      "op_s" -> Stats.median(untraced.map(_.wallS).toSeq),
      "op_s_each" -> untraced.map(_.wallS),
      "op_cpu_s_each" -> untraced.map(_.cpuS),
      "failed_frac" -> failed.toDouble / attempted,
      "failures" -> failures.take(20),
      "workload_metrics" -> wl.record(untraced.map(_.wallS).toSeq))
    spark.stop()
    val rec = record + ("jvm_s" -> (System.currentTimeMillis() - jvmStartMs) / 1000.0)
    val unknown = layer.keySet -- Metrics.perLayer.map(_._1)
    require(unknown.isEmpty, s"per-layer metrics missing from the catalog: $unknown")
    val metrics =
      (if (trace) Metrics.perLayer.map { case (k, u) => k -> (layer.getOrElse(k, 0.0) -> u) }
       else e2e)
      .map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap
    println(Json.render(Map("record" -> rec)))
    println(Json.render(Map("correct" -> failures.isEmpty, "attempted" -> attempted,
      "failed" -> failed, "metrics" -> metrics)))
  }

  /** The graft session, as a deployment builds it. */
  def session(master: String, parallelism: Int): SparkSession = {
    val s = graft.GraftSession.create(master, parallelism, "graftbench")
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Heap in use after full GCs: at least three, 200 ms apart, then
    * more while it still falls (at most eight). A GC lets Spark's
    * cleaner release the blocks and shuffles an op left unreachable,
    * and only a later GC collects them, so a single GC reads high
    * whenever the cleaner thread runs late. */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    def used(): Double = { System.gc(); (rt.totalMemory - rt.freeMemory) / 1048576.0 }
    var prev = Double.MaxValue
    var cur = used()
    var n = 1
    while (n < 8 && (n < 3 || cur < prev - 0.5)) {
      Thread.sleep(200)
      prev = cur.min(prev); cur = used(); n += 1
    }
    cur.min(prev)
  }

  /** Aggregate CPU ticks of the host (`/proc/stat`), if it has them. */
  def cpuTicks(): Option[Array[Long]] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+").drop(1).map(_.toLong))
      finally src.close()
    } catch { case _: Exception => None }

  /** Share of the host's CPU time between two samples that the
    * hypervisor gave to other guests (steal): host noise, not graft. */
  def stealShare(a: Array[Long], b: Array[Long]): Double = {
    val d = b.zip(a).map { case (x, y) => x - y }
    if (d.length < 8 || d.take(8).sum <= 0) 0.0 else d(7).toDouble / d.take(8).sum
  }

  /** Host and configuration context, so a diff can tell host noise
    * from a code change. Graft knobs are resolved the way graft
    * resolves them (session conf, then environment, then default). */
  def context(spark: SparkSession, nproc: Int): Map[String, Any] = {
    def knob(conf: String, env: String, default: String) =
      spark.conf.getOption(conf).orElse(sys.env.get(env)).getOrElse(default)
    Map(
      "nproc" -> nproc,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "load_avg_1m" -> osBean.getSystemLoadAverage,
      "java" -> System.getProperty("java.version"),
      "spark_version" -> spark.version,
      "spark_conf" -> spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.") || k.startsWith("spark.master") ||
          k.startsWith("spark.default") || k.startsWith("graft.") }.toSeq.sorted.toMap,
      "graft_knobs" -> Map(
        "statefulWidth" -> knob("graft.stream.statefulPartitions",
          "GRAFT_STREAM_STATEFUL_PARTITIONS", "8"),
        "GRAFT_CORENESS_DELTA_EDGES" -> knob("graft.coreness.deltaEdges",
          "GRAFT_CORENESS_DELTA_EDGES", "10000000"),
        "SPARK_GRAFT_STRICT_RECALL" -> sys.env.getOrElse("SPARK_GRAFT_STRICT_RECALL", "false")))
  }
}

object FileTree {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def sizeOf(f: File, suffix: String): (Int, Long) =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(sizeOf(_, suffix))
      .foldLeft((0, 0L)) { case ((n, b), (n2, b2)) => (n + n2, b + b2) }
    else if (f.getName.endsWith(suffix)) (1, f.length) else (0, 0L)
}

/** The per-layer metrics of a traced run, with units. A layer the
  * workload does not exercise reports 0. */
object Metrics {
  val perLayer: Seq[(String, String)] =
    Seq("sources.parse_ms" -> "ms", "sources.valid_frac" -> "frac",
      "streaming.latest_offset_ms" -> "ms", "streaming.plan_ms" -> "ms",
      "streaming.get_batch_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
      "streaming.commit_ms" -> "ms",
      "sinks.jdbc_ms" -> "ms", "sinks.jdbc_rows" -> "count",
      "sinks.parquet_ms" -> "ms", "sinks.parquet_files" -> "count",
      "sinks.parquet_bytes" -> "bytes") ++
    Query.Names.flatMap(q => Seq(s"queries.${q}_ms" -> "ms", s"queries.${q}_jobs" -> "count",
      s"queries.${q}_shuffle_mb" -> "MB", s"queries.${q}_input_mb" -> "MB")) ++
    Seq("queries.plan_ms" -> "ms", "queries.exec_ms" -> "ms") ++
    Graph.Algos.flatMap(a => Seq(s"operators.${a}_s" -> "s", s"operators.${a}_jobs" -> "count",
      s"operators.${a}_tasks" -> "count", s"operators.${a}_shuffle_mb" -> "MB",
      s"operators.${a}_spill_mb" -> "MB")) ++
    Seq("spark.jobs_per_op" -> "count", "spark.tasks_per_op" -> "count",
      "spark.cpu_s" -> "s", "spark.gc_ms" -> "ms", "spark.shuffle_mb" -> "MB",
      "spark.unattributed_jobs" -> "count", "trace.overhead_frac" -> "frac") ++
    Seq("sources", "streaming", "sinks", "queries", "operators", "unattributed")
      .map(l => s"self.${l}_ms" -> "ms") ++
    Seq("ingest.rows_per_s" -> "rows/s", "ingest.local1_rows_per_s" -> "rows/s",
      "ingest.speedup" -> "x", "ingest.vs_10k_claim" -> "frac")
}
