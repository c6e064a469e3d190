package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generator. It is deliberately independent of graft
  * (no `CdcJson.synthesize*`, no Spark): a change to graft cannot
  * change its own input, and the same seed gives byte-identical files.
  *
  * Node events mimic the connector's node stream over `events`-like
  * users; relationship events mimic customer -[ORDERED|...]-> order
  * edges over a span of months. Arrival order is the line order.
  */
object Gen {

  /** A wire event as generated. `defect` is the planted corruption
    * (None for a valid payload); `tsMicros` is -1 when the payload has
    * no timestamp. Node events use `kind`/`k`; relationship events use
    * `relType`/`source`/`target`/`priceCents`. */
  final case class Ev(eventId: Long, op: String, entity: String,
                      tsMicros: Long, defect: Option[String],
                      kind: String = "", k: Int = 0,
                      relType: String = "", source: String = "",
                      target: String = "", priceCents: Long = 0L) {
    def valid: Boolean = defect.isEmpty
  }

  final case class Shares(outOfOrder: Double, redelivered: Double,
                          corrupt: Double, tie: Double)

  /** Properties of one generated stream, measured on the output. */
  final case class Props(rows: Int, validRows: Int, entities: Int,
                         outOfOrder: Double, redelivered: Double,
                         corrupt: Double, ties: Double) {
    def toMap: Map[String, Any] = Map("rows" -> rows, "valid_rows" -> validRows,
      "distinct_entities" -> entities, "out_of_order_share" -> outOfOrder,
      "redelivered_share" -> redelivered, "corrupt_share" -> corrupt,
      "timestamp_tie_share" -> ties)
  }

  final case class Cdc(nodes: Vector[Ev], rels: Vector[Ev], shares: Shares) {
    def nodeLines: Vector[String] = nodes.map(nodeLine)
    def relLines: Vector[String] = rels.map(relLine)
  }

  val Defects: Vector[String] =
    Vector("unparseable", "missing_entity", "missing_timestamp")
  val Kinds: Vector[String] = Vector("view", "click", "purchase", "signup", "error")
  val RelTypes: Vector[String] = Vector("ORDERED", "ORDERED", "ORDERED", "RETURNED", "SHIPPED")

  private val NodeEpochMicros = 1704067200L * 1000000L // 2024-01-01T00:00:00Z
  private val RelEpochMicros = 694224000L * 1000000L // 1992-01-01T00:00:00Z
  private val DayMicros = 86400L * 1000000L

  /** The seed's planted shares: out-of-order 2–8%, redelivered 1–5%,
    * corrupt 1–3% (split evenly over the three defects), ties 2%. */
  def shares(seed: Long): Shares = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    Shares(0.02 + 0.06 * r.nextDouble(), 0.01 + 0.04 * r.nextDouble(),
      0.01 + 0.02 * r.nextDouble(), 0.02)
  }

  /** `nodeRows` node lines over `entities` users (20% DELETE) and
    * `relRows` relationship lines over `months` months. */
  def cdc(seed: Long, nodeRows: Int, relRows: Int, entities: Int,
          months: Int): Cdc = {
    val sh = shares(seed)
    val root = new SplittableRandom(seed)
    Cdc(nodeStream(root.split(), sh, nodeRows, entities),
      relStream(root.split(), sh, relRows, entities, months), sh)
  }

  private def defect(r: SplittableRandom, sh: Shares): Option[String] =
    if (r.nextDouble() < sh.corrupt) Some(Defects(r.nextInt(Defects.length)))
    else None

  /** Interleave generated events with verbatim redeliveries of earlier
    * valid ones, each arriving 2–501 lines after its original. */
  private def arrivals(r: SplittableRandom, sh: Shares, rows: Int)(
      next: Long => Ev): Vector[Ev] = {
    val out = Vector.newBuilder[Ev]
    var emitted = 0
    // (due line, event id) min-first
    val due = mutable.PriorityQueue.empty[(Int, Long, Ev)](
      Ordering.by[(Int, Long, Ev), (Int, Long)](x => (-x._1, -x._2)))
    var eid = 0L
    while (emitted < rows) {
      if (due.nonEmpty && due.head._1 <= emitted) out += due.dequeue()._3
      else {
        eid += 1
        val ev = next(eid)
        out += ev
        if (ev.valid && r.nextDouble() < sh.redelivered)
          due.enqueue((emitted + 2 + r.nextInt(500), eid, ev))
      }
      emitted += 1
    }
    out.result()
  }

  /** Timestamp of the `i`-th event: nominal, or tied with the entity's
    * previous event, or shifted back (an out-of-order arrival). */
  private def stamp(r: SplittableRandom, sh: Shares, nominal: Long,
                    prev: Long, backMicros: Long): Long = {
    val u = r.nextDouble()
    if (prev >= 0 && u < sh.tie) prev
    else if (u < sh.tie + sh.outOfOrder) nominal - 1000000L - r.nextLong(backMicros)
    else nominal
  }

  private def nodeStream(r: SplittableRandom, sh: Shares, rows: Int,
                         entities: Int): Vector[Ev] = {
    val last = Array.fill(entities + 1)(-1L)
    arrivals(r, sh, rows) { eid =>
      val e = 1 + r.nextInt(entities)
      val u = r.nextDouble()
      val op = if (u < 0.2) "DELETE" else if (u < 0.4) "CREATE" else "UPDATE"
      val kind = Kinds(r.nextInt(Kinds.length))
      val k = r.nextInt(100)
      val nominal = NodeEpochMicros + eid * 30000000L + r.nextInt(1000000)
      val ts = stamp(r, sh, nominal, last(e), 3600L * 1000000L)
      defect(r, sh) match {
        case None =>
          last(e) = ts
          Ev(eid, op, e.toString, ts, None, kind = kind, k = k)
        case d @ Some("missing_timestamp") =>
          Ev(eid, op, e.toString, -1L, d, kind = kind, k = k)
        case d => Ev(eid, op, e.toString, ts, d, kind = kind, k = k)
      }
    }
  }

  /** Orders are created, re-priced and deleted; timestamps advance
    * evenly over `months` months. Sources are customer ids drawn from
    * 4/3 of the node entity range, so a quarter match no node. */
  private def relStream(r: SplittableRandom, sh: Shares, rows: Int,
                        entities: Int, months: Int): Vector[Ev] = {
    val span = months * 30L * DayMicros
    val live = mutable.ArrayBuffer.empty[Int]
    val meta = mutable.ArrayBuffer.empty[(String, String)] // (type, source)
    val last = mutable.ArrayBuffer.empty[Long]
    arrivals(r, sh, rows) { eid =>
      val u = r.nextDouble()
      val (op, ord) =
        if (live.nonEmpty && u < 0.25) ("UPDATE", live(r.nextInt(live.length)))
        else if (live.nonEmpty && u < 0.33) {
          val i = r.nextInt(live.length)
          val o = live(i)
          live(i) = live.last; live.remove(live.length - 1)
          ("DELETE", o)
        } else {
          meta += ((RelTypes(r.nextInt(RelTypes.length)),
            (1 + r.nextInt(entities * 4 / 3)).toString))
          last += -1L
          live += meta.length - 1
          ("CREATE", meta.length - 1)
        }
      val nominal = RelEpochMicros + (eid - 1) * span / rows + r.nextInt(1000000)
      val ts = stamp(r, sh, nominal, last(ord), 20L * DayMicros)
      val d = defect(r, sh)
      if (d.isEmpty) last(ord) = ts
      val (relType, source) = meta(ord)
      Ev(eid, op, s"rel-$ord", if (d.contains("missing_timestamp")) -1L else ts,
        d, relType = relType, source = source, target = s"o$ord",
        priceCents = 100L + r.nextInt(50000000))
    }
  }

  // ---- wire format (the Neo4j CDC connector envelope)

  private val TsFormat = DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").withZone(ZoneOffset.UTC)

  def isoTs(micros: Long): String =
    TsFormat.format(Instant.ofEpochSecond(Math.floorDiv(micros, 1000000L),
      Math.floorMod(micros, 1000000L) * 1000L))

  private def meta(e: Ev): String =
    if (e.defect.contains("missing_timestamp")) "{}"
    else s"""{"txStartTime":{"TZDT":"${isoTs(e.tsMicros)}"}}"""

  private def elementId(e: Ev): String =
    if (e.defect.contains("missing_entity")) ""
    else s""""elementId":"${e.entity}","""

  /** A truncated payload: cut mid-object, never valid JSON. */
  private def finish(e: Ev, line: String): String =
    if (e.defect.contains("unparseable")) line.substring(0, line.length / 2) else line

  def nodeLine(e: Ev): String = finish(e,
    s"""{"id":"${e.eventId}","metadata":${meta(e)},"event":{"operation":"${e.op}",${elementId(e)}"labels":["User","${e.kind}"],"state":{"after":{"properties":{"k":${e.k}}}}}}""")

  def relLine(e: Ev): String = finish(e,
    s"""{"id":"${e.eventId}","metadata":${meta(e)},"event":{"operation":"${e.op}",${elementId(e)}"type":"${e.relType}","start":{"elementId":"${e.source}"},"end":{"elementId":"${e.target}"},"state":{"after":{"properties":{"totalprice":"${e.priceCents / 100}.${"%02d".format(e.priceCents % 100)}"}}}}}""")

  /** Write `lines` as files of `batchRows` lines each (one file per
    * streaming trigger), with increasing modification times so the
    * file source takes them in order. Returns total bytes written. */
  def writeFiles(dir: File, lines: Vector[String], batchRows: Int,
                 ext: String = ".json"): Long = {
    dir.mkdirs()
    var bytes = 0L
    lines.grouped(batchRows).zipWithIndex.foreach { case (chunk, i) =>
      val f = new File(dir, f"part-$i%05d$ext")
      val b = chunk.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
      Files.write(f.toPath, b)
      f.setLastModified(1700000000000L + i * 1000L)
      bytes += b.length
    }
    bytes
  }

  def props(evs: Vector[Ev]): Props = {
    val valid = evs.filter(_.valid)
    val seen = mutable.HashSet.empty[Long]
    var dups, ooo, ties = 0
    var maxTs = Long.MinValue
    val lastByEntity = mutable.HashMap.empty[String, Long]
    valid.foreach { e =>
      if (!seen.add(e.eventId)) dups += 1
      else {
        if (lastByEntity.get(e.entity).contains(e.tsMicros)) ties += 1
        else if (e.tsMicros < maxTs) ooo += 1
        lastByEntity(e.entity) = e.tsMicros
        maxTs = maxTs.max(e.tsMicros)
      }
    }
    val n = evs.length.toDouble
    Props(evs.length, valid.length, valid.map(_.entity).distinct.length,
      ooo / n, dups / n, (evs.length - valid.length) / n, ties / n)
  }

  // ---- supply graph

  /** Bipartite supplier -> customer edges (a = -supplier, b = customer,
    * as `GraphQueries.supplyEdges` shapes them), distinct, with planted
    * regional communities: each customer buys from 1..`maxDeg`
    * suppliers, mostly of its own region. The graph's shape is the same
    * for every seed, so every seed costs the operators the same rounds;
    * the seed permutes the node ids (and with them partitioning, edge
    * order and component labels). Returns (edges, sparse slice): the
    * slice keeps the first edge of one customer in eight, a forest of
    * supplier-centred stars, so label propagation needs the same few
    * rounds whichever node of a component holds the smallest id. */
  def supply(seed: Long, suppliers: Int, customers: Int, regions: Int,
             maxDeg: Int, crossShare: Double): (Vector[(Long, Long)], Vector[(Long, Long)]) = {
    val shape = new SplittableRandom(0x6A09E667L)
    val ids = new SplittableRandom(seed * 31 + 7)
    def perm(n: Int): Array[Long] = {
      val a = Array.tabulate(n)(i => (i + 1).toLong)
      for (i <- n - 1 to 1 by -1) {
        val j = ids.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a
    }
    val edges = mutable.LinkedHashSet.empty[(Int, Int)]
    val sparse = mutable.ArrayBuffer.empty[(Int, Int)]
    for (c <- 0 until customers) {
      val region = c % regions
      val inSlice = shape.nextInt(8) == 0
      for (k <- 0 until 1 + shape.nextInt(maxDeg)) {
        val s =
          if (shape.nextDouble() < crossShare) shape.nextInt(suppliers)
          else {
            val inRegion = (suppliers - region + regions - 1) / regions
            region + regions * shape.nextInt(inRegion)
          }
        edges += ((s, c))
        if (inSlice && k == 0) sparse += ((s, c))
      }
    }
    val (sId, cId) = (perm(suppliers), perm(customers))
    def relabel(es: Vector[(Int, Int)]) = {
      val v = es.map { case (s, c) => (-sId(s), cId(c)) }
      // edge order follows the new ids, so it too differs per seed
      v.sorted
    }
    (relabel(edges.toVector), relabel(sparse.toVector))
  }

  def edgeLines(edges: Vector[(Long, Long)]): Vector[String] =
    edges.map { case (a, b) => s"$a,$b" }
}
