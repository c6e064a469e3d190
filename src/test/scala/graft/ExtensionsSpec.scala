package graft

/** The SQL surface of the native expressions — registered on the live
  * shared session (the same path a driver-provided session uses). */
class ExtensionsSpec extends SparkSpec {

  test("GraftSession recommended conf covers the operator requirements") {
    val c = GraftSession.recommendedConf
    assert(c("spark.sql.adaptive.enabled") == "true")
    assert(c("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(c("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(c("spark.sql.session.timeZone") == "UTC")
    // one graph pass's generated classes must fit, or every pass
    // recompiles them all (see RecompileSpec)
    assert(c("spark.sql.codegen.cache.maxEntries").toInt >= 1000)
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      c("spark.sql.codegen.cache.maxEntries"),
      "the shared test session is built through GraftSession.create")
    // every streaming query's clone session must share the executor's
    // class loader, or each query start recompiles (see RecompileSpec)
    assert(c("spark.sql.artifact.isolation.enabled") == "false")
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") == "false")
    // checkpoint and parquet writes must not start chmod/readlink
    // processes (see SpawnSpec)
    assert(c("spark.hadoop.fs.file.impl") == classOf[GraftLocalFileSystem].getName)
    assert(c("spark.hadoop.fs.AbstractFileSystem.file.impl") ==
      classOf[GraftLocalFs].getName)
  }

  test("dot_product is callable from SQL after register(spark)") {
    GraftExtensions.register(spark)
    val got = spark.sql(
      "SELECT dot_product(array(1.0, 2.0, 3.0), array(4.0, 5.0, 6.0)) AS d")
      .head().getDouble(0)
    assert(got == 32.0)
    // float arrays are cast on the way in
    val f = spark.sql(
      "SELECT dot_product(array(CAST(1.5 AS FLOAT)), array(CAST(2.0 AS FLOAT))) AS d")
      .head().getDouble(0)
    assert(math.abs(f - 3.0) < 1e-9)
  }

  test("cosine_sim is callable from SQL after register(spark)") {
    GraftExtensions.register(spark)
    val same = spark.sql(
      "SELECT cosine_sim(array(1.0, 2.0), array(2.0, 4.0)) AS c")
      .head().getDouble(0)
    assert(math.abs(same - 1.0) < 1e-12, "colinear vectors -> cosine 1")
    val orth = spark.sql(
      "SELECT cosine_sim(array(1.0, 0.0), array(0.0, 7.0)) AS c")
      .head().getDouble(0)
    assert(math.abs(orth) < 1e-12, "orthogonal vectors -> cosine 0")
  }

  test("cosine of a zero-norm vector is NULL, not an ANSI crash") {
    GraftExtensions.register(spark)
    // SQL surface
    assert(spark.sql(
      "SELECT cosine_sim(array(0.0, 0.0), array(1.0, 2.0)) AS c")
      .head().isNullAt(0))
    // DataFrame surface
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val row = Seq((Seq(0.0, 0.0), Seq(1.0, 2.0))).toDF("a", "b")
      .select(graft.functions.VectorFunctions.cosine(col("a"), col("b")).as("c"))
      .head()
    assert(row.isNullAt(0))
  }
}
