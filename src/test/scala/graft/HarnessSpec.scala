package graft

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.graftprobe.ListenerDrain

/** graft.Harness on the shared session: the probe tally holds exactly
  * a run's own events, the plans document renders entries, pins and
  * the binary elision, and a bad selection fails before any work. */
class HarnessSpec extends SparkSpec {

  /** An independent count of what the bus delivered: tasks with
    * metrics, their input records, and job starts. */
  private class Counts extends SparkListener {
    val tasks, recs, jobs = new AtomicLong
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      Option(t.taskMetrics).foreach { m =>
        tasks.incrementAndGet(); recs.addAndGet(m.inputMetrics.recordsRead)
      }
    override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    def take(): (Long, Long, Long) = (tasks.getAndSet(0), recs.getAndSet(0), jobs.getAndSet(0))
  }

  private def listening[T](ls: SparkListener*)(body: => T): T = {
    ls.foreach(spark.sparkContext.addSparkListener)
    try body finally ls.foreach(spark.sparkContext.removeSparkListener)
  }

  test("each run's tally equals an independent listener drained at the same point") {
    val tally = new Harness.Tally
    val counts = new Counts
    listening(tally, counts) {
      (1 to 3).foreach { i =>
        ListenerDrain(spark)
        counts.take()
        val r = Harness.timedRun(spark, tally, "q1_agg", sfDir, i)
        ListenerDrain(spark)
        val (tasks, recs, jobs) = counts.take()
        assert(r.tasks > 0 && r.inputRecs > 0, r.json)
        assert((r.tasks, r.inputRecs, r.jobs.size.toLong) == ((tasks, recs, jobs)), s"run $i")
      }
    }
  }

  test("probe runs agree, and the job table has a row per job the last run started") {
    val counts = new Counts
    val runs = mutable.ArrayBuffer.empty[(Harness.Run, Long)]
    val names = Seq("q1_agg", "graph_components")
    listening(counts) {
      Harness.probe(spark, sfDir, names, runs = 2) { r =>
        ListenerDrain(spark)
        runs += (r -> counts.take()._3)
      }
    }
    assert(runs.map(_._1.entry) == names.flatMap(n => Seq(n, n)))
    val field = """"(tasks|input_recs|shuf_read_mb|shuf_write_mb)":([0-9.]+)""".r
    def figures(r: Harness.Run) =
      field.findAllMatchIn(r.json).map(m => m.group(1) -> m.group(2)).toList
    runs.indices.by(2).foreach { i =>
      val (a, _) = runs(i)
      val (b, lastJobs) = runs(i + 1)
      assert(figures(a).size == 4, a.json)
      assert(figures(a) == figures(b), s"${a.entry}: ${a.json} vs ${b.json}")
      val rows = Harness.summary(b).count(_.startsWith("  job#"))
      assert(rows > 0 && rows == lastJobs, s"${b.entry}: ${Harness.summary(b).mkString("\n")}")
    }
  }

  test("plans renders entries, pinned shapes and elided binary literals") {
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val md = Harness.plans(spark, sfDir, Seq("q1_agg", "sim_lsh_ann"))
    val sections = md.split("\n## ").drop(1).map(s => s.takeWhile(_ != '\n') -> s).toSeq
    assert(sections.map(_._1.takeWhile(_ != ' ')) ==
      Seq("q1_agg", "sim_lsh_ann", "dedup_bloom_screen", "aqe_skew_join"))
    val body = sections.map { case (title, s) => title.takeWhile(_ != ' ') -> s }.toMap
    assert(body("q1_agg").contains("PushedFilters"), body("q1_agg"))
    assert(sections(1)._1.startsWith("sim_lsh_ann (pinned tables=16 bits=4"), sections(1)._1)
    assert(body("dedup_bloom_screen").contains("0x<elided-binary>"), body("dedup_bloom_screen"))
    assert(body("aqe_skew_join").contains("skew=true"), body("aqe_skew_join"))
    assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == threshold,
      "the skew-join section must restore the session's conf")
  }

  test("a bad selection or mode throws before any session work") {
    val ex = intercept[IllegalArgumentException](
      Harness.prepare(Seq("plans", "unused.md"), Some("q1_agg,no_such_entry")))
    assert(ex.getMessage.contains("no_such_entry"), ex.getMessage)
    intercept[IllegalArgumentException](Harness.prepare(Seq("probe", "2"), Some("no_such_entry")))
    intercept[IllegalArgumentException](Harness.prepare(Seq("plan", "x.md"), Some("q1_agg")))
    intercept[IllegalArgumentException](Harness.prepare(Seq("probe", "0"), Some("q1_agg")))
  }
}
