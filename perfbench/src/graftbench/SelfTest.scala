package graftbench

import java.io.File
import java.nio.file.{Files => NioFiles}

import graftbench.Gen.Ev

/** The benchmark's own tests: generator determinism, the percentile
  * sample-count rule, and each plain-Scala reference on tiny
  * hand-built inputs. Run with `python3 perfbench/run.py --selftest`;
  * exits non-zero on the first failure. */
object SelfTest {

  private var passed = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    if (!cond) { System.err.println(s"FAIL $name"); sys.exit(1) }
    passed += 1
    println(s"ok   $name")
  }

  private def bytes(dir: File): Seq[(String, Seq[Byte])] =
    dir.listFiles.toSeq.sortBy(_.getName).map(f => f.getName -> NioFiles.readAllBytes(f.toPath).toSeq)

  def main(args: Array[String]): Unit = {
    // -- generator
    val tmp = NioFiles.createTempDirectory("graftbench-selftest").toFile
    def files(seed: Long, sub: String): Seq[(String, Seq[Byte])] = {
      val g = Gen.cdc(seed, 3000, 3000, 200, 12)
      val d = new File(tmp, sub)
      Gen.writeFiles(d, g.nodeLines ++ g.relLines, 500)
      bytes(d)
    }
    check("same seed gives byte-identical wire files")(files(7, "a") == files(7, "b"))
    check("another seed gives other wire files")(files(7, "a") != files(8, "c"))
    check("same seed gives the same supply graph")(
      Gen.supply(3, 50, 400, 4, 3, 0.1) == Gen.supply(3, 50, 400, 4, 3, 0.1))
    val (g3, g4) = (Gen.supply(3, 50, 400, 4, 3, 0.1)._1, Gen.supply(4, 50, 400, 4, 3, 0.1)._1)
    def degrees(es: Seq[(Long, Long)]) = Ref.adjacency(es).values.map(_.size).toVector.sorted
    check("another seed permutes the ids of the same graph")(
      g3 != g4 && degrees(g3) == degrees(g4))
    FileTree.deleteTree(tmp)

    val g = Gen.cdc(11, 20000, 20000, 1500, 80)
    val p = Gen.props(g.nodes)
    check("generator makes exactly the rows asked for")(g.nodes.length == 20000 && g.rels.length == 20000)
    check("planted shares are present")(p.outOfOrder > 0 && p.redelivered > 0 &&
      p.corrupt > 0 && p.ties > 0 && p.entities > 1000)
    check("measured corrupt share is near the planted one")(
      math.abs(p.corrupt - g.shares.corrupt) < 0.005)
    check("every defect kind is planted")(
      Gen.Defects.forall(d => g.nodes.exists(_.defect.contains(d))))

    // -- wire format of the defects
    val base = Ev(9, "UPDATE", "42", 1704067200000000L, None, kind = "view", k = 3)
    val line = Gen.nodeLine(base)
    check("a valid payload carries entity and timestamp")(
      line.contains("\"elementId\":\"42\"") && line.contains("2024-01-01T00:00:00.000000Z"))
    check("a truncated payload is cut mid-object")(
      Gen.nodeLine(base.copy(defect = Some("unparseable"))) == line.substring(0, line.length / 2))
    check("missing_entity drops elementId")(
      !Gen.nodeLine(base.copy(defect = Some("missing_entity"))).contains("elementId"))
    check("missing_timestamp drops the timestamp")(
      !Gen.nodeLine(base.copy(defect = Some("missing_timestamp"))).contains("TZDT"))

    // -- percentile helper: a tail needs ten samples beyond it
    val xs = (1 to 100).map(_.toDouble)
    check("p90 of 100 samples has 10 beyond")(Stats.percentile(xs, 0.9) == Some(Pct(0.9, 90.0, 100, 10)))
    check("p90 of 99 samples is refused")(Stats.percentile(xs.take(99), 0.9).isEmpty)
    check("highest tail of 20 samples is the p50")(Stats.highestTail(xs.take(20)).map(_.p) == Some(0.5))
    check("no tail from 10 samples")(Stats.highestTail(xs.take(10)).isEmpty)
    check("median of an even count averages the middle two")(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)

    // -- CDC references: tombstone, timestamp tie, corrupt payload, redelivery
    val evs = Seq(
      Ev(1, "CREATE", "a", 10, None, kind = "view", k = 1),
      Ev(2, "UPDATE", "a", 20, None, kind = "click", k = 2),
      Ev(3, "DELETE", "a", 20, None, kind = "view", k = 4), // tie with 2: the higher id wins
      Ev(4, "CREATE", "b", 5, None, kind = "view", k = 8),
      Ev(5, "UPDATE", "b", 30, Some("unparseable"), kind = "view", k = 16), // never lands
      Ev(4, "CREATE", "b", 5, None, kind = "view", k = 8)) // redelivered
    check("FINAL breaks a timestamp tie by event id")(Ref.latest(evs)("a").eventId == 3)
    check("FINAL ignores a corrupt payload")(Ref.latest(evs)("b").eventId == 4)
    check("current drops the tombstoned entity")(Ref.current(evs).keySet == Set("b"))
    val q = Ref.queries(evs, Seq(
      Ev(1, "CREATE", "rel-0", 694224000000000L, None, relType = "ORDERED", source = "b",
        priceCents = 1050),
      Ev(2, "CREATE", "rel-1", 694224000000000L, Some("missing_entity"), relType = "SHIPPED",
        source = "a", priceCents = 1)), 199201)
    check("counts include the redelivery, not the corrupt payload")(
      q("by_event_type") == Vector("DELETE|1", "INSERT|3", "UPDATE|1"))
    check("labels explode")(q("by_label") == Vector("User|5", "click|1", "view|4"))
    check("duplicate entities")(q("dup_entities") == Vector("b|INSERT|2"))
    check("property sums")(q("props") == Vector("DELETE|4", "INSERT|17", "UPDATE|2"))
    check("month range sums prices exactly")(q("month_range") == Vector("ORDERED|1|10.50"))
    check("latest nodes join latest relationships")(q("join") == Vector("INSERT|ORDERED|1"))

    // -- graph references
    val twoTriangles = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L), (6L, 4L), (7L, 8L))
    val adj = Ref.adjacency(twoTriangles ++ Seq((2L, 1L), (9L, 9L)))
    check("adjacency symmetrizes, dedups and drops self-loops")(
      adj(1L) == Set(2L, 3L) && !adj.contains(9L))
    check("components label by minimum id")(
      Ref.components(adj) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 4L,
        7L -> 7L, 8L -> 7L))
    check("coreness of a triangle with a pendant")(
      Ref.coreness(Ref.adjacency(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)))) ==
        Map(1L -> 2, 2L -> 2, 3L -> 2, 4L -> 1))
    check("PageRank keeps total rank 1")(math.abs(Ref.pageRank(adj, 5).values.sum - 1.0) < 1e-12)
    val tri = Ref.adjacency(twoTriangles.take(6))
    check("modularity of two separate triangles split apart is 1/2")(
      math.abs(Ref.modularity(tri, Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L,
        6L -> 4L)) - 0.5) < 1e-12)
    check("modularity of everything in one community is 0")(
      math.abs(Ref.modularity(tri, tri.keys.map(_ -> 0L).toMap)) < 1e-12)

    // -- tracing
    check("span self time uses the union of child intervals")(
      Tracer.unionNs(Seq((0L, 10L), (5L, 15L), (20L, 30L), (25L, 26L))) == 25L)

    println(s"$passed checks passed")
  }
}
