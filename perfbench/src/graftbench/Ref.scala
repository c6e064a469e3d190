package graftbench

import scala.collection.mutable

import graftbench.Gen.Ev

/** Plain-Scala reference computations over the generated inputs. The
  * benchmark's output checks compare graft's answers to these; they
  * share no code with graft. Query results are canonicalized as
  * sorted `|`-joined rows so both sides compare as strings. */
object Ref {

  /** The connector operation → the landed event_type enum. */
  def eventType(op: String): String = op match {
    case "UPDATE" => "UPDATE"
    case "DELETE" => "DELETE"
    case _ => "INSERT"
  }

  /** ReplacingMergeTree FINAL: the newest valid event per entity,
    * ordered by (timestamp, event id). Redeliveries are identical and
    * collapse; corrupt payloads never land. */
  def latest(evs: Seq[Ev]): Map[String, Ev] = {
    val m = mutable.HashMap.empty[String, Ev]
    evs.foreach { e =>
      if (e.valid) m.get(e.entity) match {
        case Some(o) if o.tsMicros > e.tsMicros ||
          (o.tsMicros == e.tsMicros && o.eventId >= e.eventId) =>
        case _ => m(e.entity) = e
      }
    }
    m.toMap
  }

  /** FINAL minus DELETE tombstones. */
  def current(evs: Seq[Ev]): Map[String, Ev] =
    latest(evs).filter { case (_, e) => e.op != "DELETE" }

  def rows(xs: Iterable[Seq[Any]]): Vector[String] =
    xs.map(_.mkString("|")).toVector.sorted

  private def counts[K](xs: Iterable[K]): Map[K, Int] =
    xs.groupBy(identity).map { case (k, v) => k -> v.size }

  def monthOf(micros: Long): Int = {
    val d = java.time.Instant.ofEpochSecond(Math.floorDiv(micros, 1000000L))
      .atZone(java.time.ZoneOffset.UTC)
    d.getYear * 100 + d.getMonthValue
  }

  private def price(cents: Long): String =
    java.math.BigDecimal.valueOf(cents, 2).toPlainString

  /** The query mix's expected answers, keyed by query name. */
  def queries(nodes: Seq[Ev], rels: Seq[Ev], month: Int): Map[String, Vector[String]] = {
    val vn = nodes.filter(_.valid)
    val vr = rels.filter(_.valid)
    val ln = latest(nodes)
    val lr = latest(rels)
    Map(
      "final" -> rows(ln.values.map(e => Seq(e.entity, e.eventId))),
      "current" -> rows(current(nodes).values.map(e => Seq(e.entity, e.eventId))),
      "by_event_type" -> rows(counts(vn.map(e => eventType(e.op)))
        .map { case (k, n) => Seq(k, n) }),
      "by_label" -> rows(counts(vn.flatMap(e => Seq("User", e.kind)))
        .map { case (k, n) => Seq(k, n) }),
      "by_rel_type" -> rows(counts(vr.map(_.relType))
        .map { case (k, n) => Seq(k, n) }),
      "dup_entities" -> rows(counts(vn.map(e => (e.entity, eventType(e.op))))
        .collect { case ((e, t), n) if n > 1 => Seq(e, t, n) }),
      "props" -> rows(vn.groupBy(e => eventType(e.op))
        .map { case (t, es) => Seq(t, es.map(_.k.toLong).sum) }),
      "month_range" -> rows(vr.filter(e => monthOf(e.tsMicros) == month)
        .groupBy(_.relType).map { case (t, es) =>
          Seq(t, es.size, price(es.map(_.priceCents).sum)) }),
      "join" -> rows(counts(lr.values.flatMap(r =>
          ln.get(r.source).map(n => (eventType(n.op), r.relType))))
        .map { case ((nt, rt), n) => Seq(nt, rt, n) }))
  }

  // ---- graph references

  /** Undirected adjacency: symmetrized, self-loops dropped, deduped. */
  def adjacency(edges: Seq[(Long, Long)]): Map[Long, Set[Long]] = {
    val m = mutable.HashMap.empty[Long, mutable.Set[Long]]
    edges.foreach { case (a, b) =>
      if (a != b) {
        m.getOrElseUpdate(a, mutable.Set.empty) += b
        m.getOrElseUpdate(b, mutable.Set.empty) += a
      }
    }
    m.map { case (k, v) => k -> v.toSet }.toMap
  }

  /** rank₀ = 1/N; rankₜ₊₁(v) = (1−d)/N + d·Σ_{u∼v} rankₜ(u)/deg(u). */
  def pageRank(adj: Map[Long, Set[Long]], iters: Int, d: Double = 0.85): Map[Long, Double] = {
    val n = adj.size
    var rank = adj.map { case (v, _) => v -> 1.0 / n }
    for (_ <- 1 to iters) {
      val acc = mutable.HashMap.empty[Long, Double].withDefaultValue(0.0)
      adj.foreach { case (u, nbrs) =>
        val c = rank(u) / nbrs.size
        nbrs.foreach(v => acc(v) += c)
      }
      rank = adj.map { case (v, _) => v -> ((1 - d) / n + d * acc(v)) }
    }
    rank
  }

  /** Connected components, each node labelled with its component's
    * minimum node id. */
  def components(adj: Map[Long, Set[Long]]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val nx = parent(y); parent(y) = r; y = nx }
      r
    }
    adj.keys.foreach(v => parent(v) = v)
    adj.foreach { case (a, nbrs) => nbrs.foreach { b =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    } }
    adj.keys.map(v => v -> find(v)).toMap
  }

  /** k-core number of every node by minimum-degree peeling. */
  def coreness(adj: Map[Long, Set[Long]]): Map[Long, Int] = {
    val deg = mutable.HashMap.empty[Long, Int] ++ adj.map { case (v, s) => v -> s.size }
    val byDeg = mutable.TreeSet.empty[(Int, Long)] ++ deg.toSeq.map { case (v, d) => (d, v) }
    val core = mutable.HashMap.empty[Long, Int]
    var k = 0
    while (byDeg.nonEmpty) {
      val (d, v) = byDeg.head
      byDeg -= ((d, v))
      k = k.max(d)
      core(v) = k
      adj(v).foreach { u =>
        if (!core.contains(u)) {
          val du = deg(u)
          byDeg -= ((du, u)); deg(u) = du - 1; byDeg += ((du - 1, u))
        }
      }
    }
    core.toMap
  }

  /** Newman modularity of `assign` on the undirected graph. */
  def modularity(adj: Map[Long, Set[Long]], assign: Map[Long, Long]): Double = {
    val m2 = adj.values.map(_.size.toLong).sum.toDouble // 2m
    val intra = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
    val tot = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
    adj.foreach { case (a, nbrs) =>
      val c = assign(a)
      tot(c) += nbrs.size
      nbrs.foreach(b => if (assign(b) == c) intra(c) += 1) // counted from both ends
    }
    tot.keys.toSeq.map(c => intra(c) / m2 - math.pow(tot(c) / m2, 2)).sum
  }
}
