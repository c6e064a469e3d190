package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftprobe.CacheIntrospect
import org.apache.spark.storage.StorageLevel
import graft.operators.GraphOps

/** The cache-lifetime contract (r10, VERDICT r9 #7): GraphOps pins
  * loop-invariant relations for the duration of an iterative build;
  * `materialized` must hand back an executed, lineage-truncated
  * result and release EVERY pin its build made (and no other), so a
  * one-shot driver pass ends with zero residual cached relations.
  * Asserted against the actual cache manager (via the test-only
  * visibility shim), not a proxy.
  */
class CacheLifetimeSpec extends SparkSpec {
  import spark.implicits._

  private def supply = Tables.load(spark, sfDir, "lineitem")
    .join(Tables.load(spark, sfDir, "orders"),
      col("l_orderkey") === col("o_orderkey"))
    .select((-col("l_suppkey")).as("a"), col("o_custkey").as("b"))
    .distinct()

  test("materialized releases every GraphOps pin: cache manager empty") {
    spark.catalog.clearCache() // clean slate whatever ran before
    val rows = GraphOps.materialized(
      GraphOps.pageRank(supply, iters = 2))(_.collect())
    assert(rows.nonEmpty)
    assert(CacheIntrospect.cacheManagerEmpty(spark),
      "pageRank invariants must be unpinned after materialized()")
    // an operator with more pinned relations (betweenness pins the
    // relation + node table + per-layer settled state lineage)
    val bc = GraphOps.materialized(
      GraphOps.betweennessSampled(
        Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b"),
        seeds = Seq(1L), maxHops = 2))(_.collect())
    assert(bc.nonEmpty)
    assert(CacheIntrospect.cacheManagerEmpty(spark))
  }

  test("materialized result survives the release (checkpointed, not lazy)") {
    spark.catalog.clearCache()
    // hand the frame OUT of the scope: if materialized returned a
    // lazy plan, collecting after the release would silently rebuild
    // the invariants (repinning them); a checkpointed frame doesn't
    val df = GraphOps.materialized(GraphOps.pageRank(supply, iters = 1))(
      identity)
    assert(df.count() > 0)
    assert(CacheIntrospect.cacheManagerEmpty(spark),
      "collecting the handed-out frame must not re-pin anything")
  }

  test("materialized releases only its own pins, not caller-owned cache") {
    spark.catalog.clearCache()
    val unrelated = spark.range(100).toDF("x").persist()
    unrelated.count()
    GraphOps.materialized(GraphOps.pageRank(supply, iters = 1))(_.collect())
    assert(!CacheIntrospect.cacheManagerEmpty(spark),
      "caller-owned cache must survive a GraphOps release")
    unrelated.unpersist(true)
    assert(CacheIntrospect.cacheManagerEmpty(spark))
  }

  test("a pageRank built outside materialized keeps its pins through later materialized calls") {
    spark.catalog.clearCache()
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b")
    val outside = GraphOps.pageRank(e, iters = 2)
    // the symmetrized edge list is the plan pageRank pins first
    def pinned = GraphOps.undirected(e).storageLevel == StorageLevel.MEMORY_AND_DISK
    assert(pinned)
    // later one-shot builds, over another graph and over the same one:
    // each releases only the pins it made
    GraphOps.materialized(GraphOps.pageRank(supply, iters = 1))(_.collect())
    GraphOps.materialized(GraphOps.pageRank(e, iters = 1))(_.collect())
    assert(pinned, "a scoped release must not drop pins made outside its scope")
    assert(outside.collect().length == 4)
    spark.catalog.clearCache()
    assert(CacheIntrospect.cacheManagerEmpty(spark))
  }
}
