package graft
import org.apache.spark.scheduler._
import scala.collection.concurrent.TrieMap

/** Per-JOB probe (r16): runs one SparkEntry query once (after one
  * untimed warmup) and prints one line per Spark job — wall ms, task
  * count, executor-run ms, shuffle bytes — so iterative operators'
  * per-round cost structure is visible (which round/job dominates,
  * how many eager actions a loop schedules). Complements [[Probe]]
  * (per-run aggregate): Probe answers "is the box or the plan
  * drifting", this answers "which of the loop's jobs is the cost".
  *
  * Env: SPARK_GRAFT_ONLY=<entry> (one), SPARK_GRAFT_SF_DIR,
  * SPARK_GRAFT_CPUS as in Bench.
  */
object ProbeJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val name = SparkEntry.selectedEntries(Some(sys.env.getOrElse(
        SparkEntry.OnlyEnv, sys.error("ProbeJobs: set SPARK_GRAFT_ONLY=<entry>")))) match {
      case Seq(one) => one
      case many => sys.error(s"ProbeJobs: name one entry, got ${many.mkString(", ")}")
    }
    val spark = GraftSession.create(s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("WARN")

    case class J(start: Long, var tasks: Int = 0, var runMs: Long = 0,
                 var shufR: Long = 0, var shufW: Long = 0, var inB: Long = 0)
    case class S(name: String, var tasks: Int = 0, var runMs: Long = 0)
    val jobs = TrieMap.empty[Int, J]
    val stages = TrieMap.empty[Int, S]
    val stageToJob = TrieMap.empty[Int, Int]
    @volatile var collecting = false
    val order = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (collecting) {
        jobs(e.jobId) = J(System.nanoTime())
        e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = if (collecting)
        jobs.get(e.jobId).foreach { j =>
          order.add((e.jobId, (System.nanoTime() - j.start) / 1000000))
        }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (collecting)
          stages(e.stageInfo.stageId) = S(e.stageInfo.name)
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        for (jid <- stageToJob.get(t.stageId); j <- jobs.get(jid);
             m <- Option(t.taskMetrics)) {
          j.tasks += 1; j.runMs += m.executorRunTime
          j.shufR += m.shuffleReadMetrics.totalBytesRead
          j.shufW += m.shuffleWriteMetrics.bytesWritten
          j.inB += m.inputMetrics.bytesRead
        }
        for (s <- stages.get(t.stageId); m <- Option(t.taskMetrics)) {
          s.tasks += 1; s.runMs += m.executorRunTime
        }
      }
    })

    val fn = SparkEntry.queries(name)
    try fn(spark, sfDir).queryExecution.toRdd.count()
    catch { case e: Throwable => println(s"warmup $name: $e") }
    System.gc()
    collecting = true
    val t0 = System.nanoTime()
    val rows = fn(spark, sfDir).queryExecution.toRdd.count()
    val wall = (System.nanoTime() - t0) / 1e9
    collecting = false
    Thread.sleep(500) // drain listener bus
    println(f"ENTRY $name rows=$rows wall=$wall%.2f s  jobs=${order.size}")
    var i = 0
    order.forEach { case (jid, ms) =>
      val j = jobs(jid)
      println(f"  job#$i%02d id=$jid wall=${ms}%5d ms tasks=${j.tasks}%4d " +
        f"run=${j.runMs}%6d ms shufR=${j.shufR / 1024}%7d KB " +
        f"shufW=${j.shufW / 1024}%7d KB in=${j.inB / 1048576}%5d MB")
      i += 1
    }
    println("STAGES (by executor-run desc, top 40):")
    stages.toSeq.sortBy(-_._2.runMs).take(40).foreach { case (sid, s) =>
      println(f"  stage=$sid%4d run=${s.runMs}%6d ms tasks=${s.tasks}%4d  ${s.name}")
    }
    spark.stop()
  }
}
