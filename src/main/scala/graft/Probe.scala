package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

/** Instrumented multi-run probe for adjudicating bench-time swings
  * (VERDICT r11 #1): runs the named SparkEntry queries N times each
  * and records, PER RUN, the telemetry that separates "box/page-cache
  * drift" from "plan defect" — the same categories whose r10 loop-run
  * probe exposed the per-round SMJ re-exchange:
  *
  *   - wall seconds, executor run/CPU milliseconds
  *   - JVM GC milliseconds summed over tasks (GC pressure)
  *   - input bytes + records and derived input MB/s (scan throughput
  *     — a page-cache-cold run shows here and nowhere else)
  *   - shuffle read/write bytes, memory/disk spill (plan shape drift)
  *   - task-skew ratio: max task duration / median task duration
  *   - host context before each run: 1-min load average and
  *     /proc/meminfo Cached (page-cache state)
  *
  * Interpretation contract: equal input bytes + equal shuffle bytes +
  * equal skew across runs with 2×+ wall spread and the spread
  * tracking input MB/s ⇒ I/O-side (box/page-cache) drift; a wall
  * spread WITHOUT an MB/s spread (or with a shuffle/spill delta) ⇒
  * the plan is doing different work — instrument deeper, don't blame
  * the box. One JSON line per run on stdout and appended to
  * bench_runs/probe_<name>.jsonl.
  */
object Probe {
  private class RunMetrics {
    val runTimeMs = new LongAdder; val cpuTimeNs = new LongAdder
    val gcTimeMs = new LongAdder
    val inputBytes = new LongAdder; val inputRecords = new LongAdder
    val shuffleRead = new LongAdder; val shuffleWrite = new LongAdder
    val memSpill = new LongAdder; val diskSpill = new LongAdder
    val taskCount = new AtomicLong
    val maxTaskMs = new AtomicLong
    // unbounded per-run buffer of task durations for the median —
    // acceptably small at probe scale (local[32] runs end at tens of
    // thousands of tasks; 1 boxed long each) (ADVICE r12: this is NOT
    // a reservoir sample, every task's duration is kept)
    val durations = new java.util.concurrent.ConcurrentLinkedQueue[Long]
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "6").toInt
    val names = SparkEntry.selectedEntries(Some(sys.env.getOrElse(
      SparkEntry.OnlyEnv, sys.error("Probe: set SPARK_GRAFT_ONLY=<entry[,entry]>"))))
    val spark = GraftSession.create(s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("WARN")

    @volatile var current: RunMetrics = new RunMetrics
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics; val r = current
        if (m != null) {
          r.runTimeMs.add(m.executorRunTime)
          r.cpuTimeNs.add(m.executorCpuTime)
          r.gcTimeMs.add(m.jvmGCTime)
          r.inputBytes.add(m.inputMetrics.bytesRead)
          r.inputRecords.add(m.inputMetrics.recordsRead)
          r.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
          r.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
          r.memSpill.add(m.memoryBytesSpilled)
          r.diskSpill.add(m.diskBytesSpilled)
          r.taskCount.incrementAndGet()
          r.durations.add(m.executorRunTime)
          var prev = r.maxTaskMs.get
          while (m.executorRunTime > prev &&
            !r.maxTaskMs.compareAndSet(prev, m.executorRunTime))
            prev = r.maxTaskMs.get
        }
      }
    })

    def cachedKb: Long =
      try scala.io.Source.fromFile("/proc/meminfo").getLines()
        .find(_.startsWith("Cached:"))
        .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
      catch { case _: Throwable => -1L }

    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("bench_runs"))
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      // one untimed warmup: codegen compile + catalog, same as Bench
      try fn(spark, sfDir).queryExecution.toRdd.count()
      catch { case e: Throwable => println(s"warmup $name: $e") }
      val out = new java.io.PrintWriter(new java.io.FileWriter(
        s"bench_runs/probe_$name.jsonl", true))
      for (i <- 1 to runs) {
        System.gc()
        val load = java.lang.management.ManagementFactory
          .getOperatingSystemMXBean.getSystemLoadAverage
        val cachedBefore = cachedKb
        current = new RunMetrics
        val t0 = System.nanoTime()
        val rows = fn(spark, sfDir).queryExecution.toRdd.count()
        val wall = (System.nanoTime() - t0) / 1e9
        val r = current
        val ds = { val a = r.durations.toArray(Array.empty[java.lang.Long])
          .map(_.longValue); java.util.Arrays.sort(a); a }
        val p50 = if (ds.isEmpty) 0L else ds(ds.length / 2)
        val skew = if (p50 > 0) r.maxTaskMs.get.toDouble / p50 else 0.0
        val mbps = if (wall > 0) r.inputBytes.sum / 1e6 / wall else 0.0
        val line = f"""{"entry":"$name","run":$i,"wall_s":$wall%.2f,"rows":$rows,"exec_run_s":${r.runTimeMs.sum / 1e3}%.1f,"exec_cpu_s":${r.cpuTimeNs.sum / 1e9}%.1f,"gc_s":${r.gcTimeMs.sum / 1e3}%.2f,"input_mb":${r.inputBytes.sum / 1e6}%.1f,"input_recs":${r.inputRecords.sum},"input_mbps":$mbps%.1f,"shuf_read_mb":${r.shuffleRead.sum / 1e6}%.1f,"shuf_write_mb":${r.shuffleWrite.sum / 1e6}%.1f,"spill_mem_mb":${r.memSpill.sum / 1e6}%.1f,"spill_disk_mb":${r.diskSpill.sum / 1e6}%.1f,"tasks":${r.taskCount.get},"task_p50_ms":$p50,"task_max_ms":${r.maxTaskMs.get},"task_skew":$skew%.1f,"load_avg":$load%.2f,"page_cache_gb":${cachedBefore / 1048576.0}%.1f}"""
        println(line); out.println(line); out.flush()
      }
      out.close()
    }
    spark.stop()
  }
}
