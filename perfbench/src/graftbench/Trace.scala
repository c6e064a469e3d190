package graftbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One timed interval around a call into a layer. `op` is the id of
  * the root span (the op) it belongs to; `parent` is 0 for a root. */
final case class Span(id: Long, name: String, layer: String, parent: Long,
                      op: Long, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spark engine counters attributed to one span. */
final class Counters {
  var jobs, tasks, cpuNs, gcMs, shuffleWrite, shuffleRead, input, spill = 0L
  def +=(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    input += o.input; spill += o.spill
  }
}

/** Span recorder and counter attribution. Spans are kept in memory
  * and written when the run ends. Each span sets the local property
  * [[Tracer.Key]] on the calling thread for its duration; Spark copies
  * local properties into every job (and into a streaming query's
  * thread when it starts), so the listener can attribute each job's
  * task metrics to the innermost span that launched it. With `active`
  * false nothing is recorded and no property is set. */
final class Tracer(spark: SparkSession) {
  import Tracer.Key

  @volatile var active = false
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val opOf = new ConcurrentHashMap[Long, Long]()
  private val byStage = new ConcurrentHashMap[Int, Long]()
  private val counters = new ConcurrentHashMap[Long, Counters]()
  @volatile var unattributedJobs = 0L

  private def counter(id: Long): Counters = counters.computeIfAbsent(id, _ => new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Key))) match {
        case Some(id) =>
          val c = counter(id.toLong)
          c.synchronized(c.jobs += 1)
          e.stageIds.foreach(s => byStage.put(s, id.toLong))
        case None => unattributedJobs += 1
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val id = byStage.get(e.stageId)
      val m = e.taskMetrics
      if (id != 0L && m != null) {
        val c = counter(id)
        c.synchronized {
          c.tasks += 1
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.input += m.inputMetrics.bytesRead
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  /** Start recording (the traced half of a traced run). */
  def start(): Unit = { spark.sparkContext.addSparkListener(listener); active = true }

  /** Stop recording once every event already posted has arrived. */
  def stop(): Unit = {
    active = false
    drain()
    spark.sparkContext.removeSparkListener(listener)
  }

  def drain(): Unit = BenchBus.drain(spark.sparkContext)

  /** Run `body` as a span under `parent` (0 = a new op). The body gets
    * the span id, so it can parent spans opened on other threads. */
  def span[T](name: String, layer: String, parent: Long)(body: Long => T): T =
    if (!active) body(0L)
    else {
      val id = ids.incrementAndGet()
      opOf.put(id, if (parent == 0L) id else opOf.getOrDefault(parent, parent))
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(Key)
      sc.setLocalProperty(Key, id.toString)
      val t0 = System.nanoTime()
      try body(id)
      finally {
        val t1 = System.nanoTime()
        sc.setLocalProperty(Key, prev)
        add(Span(id, name, layer, parent, opOf.get(id), t0, t1))
      }
    }

  /** Record a span measured elsewhere (e.g. from streaming progress),
    * possibly after the op ended; `parent` is 0 outside a traced op. */
  def record(name: String, layer: String, parent: Long, startNs: Long, endNs: Long): Unit =
    if (parent != 0L)
      add(Span(ids.incrementAndGet(), name, layer, parent,
        opOf.getOrDefault(parent, parent), startNs, endNs))

  private def add(s: Span): Unit = spans.synchronized(spans += s)

  def all: Vector[Span] = spans.synchronized(spans.toVector)

  def countersOf(s: Span): Counters =
    Option(counters.get(s.id)).getOrElse(new Counters)

  /** Counters summed over `ss`. */
  def sum(ss: Iterable[Span]): Counters = {
    val c = new Counters
    ss.foreach(s => c += countersOf(s))
    c
  }

  /** Self time per layer of each op: a span's duration minus the union
    * of its children's intervals. The op's own self time is the part
    * no layer span covers, reported as "unattributed". */
  def selfTimes(): Map[Long, Map[String, Long]] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.op).map { case (op, inOp) =>
      val perLayer = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
      inOp.foreach { s =>
        val covered = Tracer.unionNs(kids.getOrElse(s.id, Vector.empty)
          .map(k => (k.startNs.max(s.startNs), k.endNs.min(s.endNs))))
        perLayer(if (s.parent == 0L) "unattributed" else s.layer) += s.durNs - covered
      }
      op -> perLayer.toMap
    }
  }

  def write(f: File): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try all.foreach { s =>
      val c = countersOf(s)
      w.println(Json.render(Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
        "parent" -> s.parent, "op" -> s.op, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "jobs" -> c.jobs, "tasks" -> c.tasks,
        "cpu_ns" -> c.cpuNs, "gc_ms" -> c.gcMs,
        "shuffle_write_bytes" -> c.shuffleWrite,
        "shuffle_read_bytes" -> c.shuffleRead, "input_bytes" -> c.input,
        "spill_bytes" -> c.spill)))
    } finally w.close()
  }
}

object Tracer {
  val Key = "graftbench.span"

  /** Total length of the union of [start, end) intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = curE.max(e)
    }
    if (open) total += curE - curS
    total
  }
}

/** Minimal JSON rendering for the benchmark's records. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ": " + render(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
