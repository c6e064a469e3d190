package graft

import graft.operators.GraphOps
import graft.queries.GraphQueries

/** The data premise behind `GraphQueries.symSupply`: on the supply
  * edges it skips the dedup exchange `GraphOps.undirected` spends, which
  * is sound only while the slice is distinct and sign-separated. The
  * check lives here, so the query path runs no extra job for it. */
class SymSupplySpec extends SparkSpec {

  for (sf <- Seq("sf0.001", "sf0.01"))
    test(s"symSupply equals GraphOps.undirected on the supply edges at $sf") {
      val e = GraphQueries.supplyEdges(spark, s"${new java.io.File(sfDir).getParent}/$sf")
      def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
        df.collect().toSeq.map(r =>
          (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))
      val sym = rows(GraphQueries.symSupply(e))
      val und = rows(GraphOps.undirected(e))
      assert(sym.nonEmpty)
      assert(sym.distinct.length == sym.length, "symSupply emitted a duplicate row")
      assert(sym.sorted == und.sorted)
    }
}
