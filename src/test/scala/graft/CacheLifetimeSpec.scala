package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftprobe.CacheIntrospect
import org.apache.spark.storage.StorageLevel
import graft.operators.{Dedup, GraphOps, Lttb, Pins, PipelineOps, Sketches}

/** The cache-lifetime contract (r10, VERDICT r9 #7): operators pin
  * loop-invariant and multi-consumer relations through `Pins.pin`;
  * `materialized` must hand back an executed, lineage-truncated
  * result and release EVERY pin its build made, whichever operator
  * made it (and no other), so a one-shot driver pass ends with zero
  * residual cached relations.
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

  private def docs = Tables.load(spark, sfDir, "documents")

  test("materialized releases the pins of every operator, not only GraphOps'") {
    spark.catalog.clearCache()
    val series = spark.range(200).select((col("id") % 2).as("k"),
      col("id").as("x"), (col("id") * 7919 % 101).as("y"))
    val builds: Seq[(String, () => DataFrame)] = Seq(
      "Sketches.minhashLsh" -> (() => Sketches.minhashLsh(docs, "doc_id", "text")),
      "Sketches.simhashPairs" -> (() => Sketches.simhashPairs(docs, "doc_id", "text")),
      "Dedup.jaccardPairs" -> (() =>
        Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, tau = 0.5, dfCap = 1000L)),
      "PipelineOps.decontaminate" -> (() =>
        PipelineOps.decontaminate(docs, "doc_id", "text", col("doc_id") % 5 === 0)),
      "Lttb.exact" -> (() => Lttb.exact(series, Seq("k"), "x", "y", nOut = 6)))
    builds.foreach { case (name, build) =>
      GraphOps.materialized(build())(_.collect())
      assert(CacheIntrospect.cacheManagerEmpty(spark),
        s"$name pins must be released by materialized()")
    }
  }

  test("a plan the caller cached before a scope stays cached when an operator inside re-pins it") {
    spark.catalog.clearCache()
    val sigs = Sketches.minhashSignatures(docs, "doc_id", "text", n = 3, k = 16)
      .persist()
    sigs.count()
    // minhashLsh pins exactly this plan; the caller cached it first
    GraphOps.materialized(Sketches.minhashLsh(docs, "doc_id", "text"))(_.collect())
    assert(sigs.storageLevel == StorageLevel.MEMORY_AND_DISK,
      "a scope must not release a plan another owner cached first")
    sigs.unpersist(true)
    assert(CacheIntrospect.cacheManagerEmpty(spark))
  }

  test("a nested scope releases its own pins and leaves the outer scope's") {
    spark.catalog.clearCache()
    val outer = spark.range(10).toDF("x")
    val inner = spark.range(20).toDF("x")
    def cached(df: DataFrame) = df.storageLevel != StorageLevel.NONE
    Pins.scoped {
      Pins.pin(outer).count()
      Pins.scoped(Pins.pin(inner).count())
      assert(!cached(inner), "the inner scope owns its pin")
      assert(cached(outer), "the inner scope must not release the outer pin")
    }
    assert(CacheIntrospect.cacheManagerEmpty(spark))
  }
}
