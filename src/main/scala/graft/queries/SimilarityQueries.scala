package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions
import graft.operators.Dedup

/** SURVEY §2.E — similarity search over `embeddings`. E1 is the exact
  * brute-force baseline with a DuckDB oracle; the approximate LSH/IVF
  * paths (E2/E3) live in [[SketchQueries]] as rows-only entries with
  * recall invariants in ScalaTest.
  */
object SimilarityQueries extends QueryPack {

  val queries: Map[String, Q] = Map(
    // E1: exact cosine similarity of every query vector (vec_id ≡ 0
    // mod 100) against the corpus, threshold output (≥ 0.3) rather
    // than top-k so the oracle compare is tie-stable. The query side
    // is tiny and broadcast; the corpus side streams through one
    // nested-loop pass — the exact-search plan you'd also run at
    // scale for a small query batch.
    "sim_bruteforce_topk" -> ((s, dir) =>
      thresholdSearch(
        guardCorpus(Tables.load(s, dir, "embeddings"), "sim_bruteforce_topk")
          .select(col("vec_id"), VectorFunctions.asDouble(col("embedding")).as("v"))
          .withColumn("nrm", VectorFunctions.l2(col("v"))))),

    // Quantized search path: corpus stored int8-quantized (4× smaller
    // than float32 — the storage play for a 100 TB embedding corpus),
    // scored against dequantized vectors with the same protocol as
    // E1 (shared thresholdSearch — the spec's recall comparison is
    // protocol-identical by construction). Quantization isn't cleanly
    // SQL-expressible → rows-only driver check; SketchSpec pins
    // reconstruction error and recall vs the exact result.
    "sim_quantized_topk" -> ((s, dir) => {
      // Par.widen's exchange sits AFTER the dequantize projection on
      // purpose: it materializes the reconstructed vectors + norms
      // once per row, stopping CollapseProject from substituting the
      // (interpreted, higher-order) quantize/dequantize expressions
      // into the per-pair join arithmetic
      thresholdSearch(graft.operators.Par.widen(
        guardCorpus(Tables.load(s, dir, "embeddings"), "sim_quantized_topk")
          .select(col("vec_id"),
            VectorFunctions.asDouble(col("embedding")).as("v0"))
          // scale staged in its own projection (split API): the
          // max|x| aggregate runs once per row, not once per element
          .select(col("vec_id"), col("v0"),
            VectorFunctions.int8Scale(col("v0")).as("sc"))
          .select(col("vec_id"),
            VectorFunctions.quantizeInt8(col("v0"), col("sc")).as("qv"))
          .select(col("vec_id"),
            VectorFunctions.dequantizeInt8(col("qv")).as("v"))
          .withColumn("nrm", VectorFunctions.l2(col("v")))))
    }),

    // E5: per-label centroid — the element-wise mean embedding each
    // class/cluster summary (and any IVF-style coarse quantizer seeded
    // from labels) reports. Shaped as posexplode → one hash-agg on
    // (label, dim): partial aggregation folds each partition to
    // labels×dim (sum, count) pairs before the exchange, so the
    // shuffle is O(labels·dim·partitions) regardless of corpus size —
    // the 64× row explosion never crosses the wire.
    "embed_centroids" -> ((s, dir) =>
      Tables.load(s, dir, "embeddings")
        .select(col("label"),
          posexplode(VectorFunctions.asDouble(col("embedding"))).as(Seq("dim", "x")))
        .groupBy("label", "dim")
        .agg(count(lit(1)).as("n_vecs"), round(avg(col("x")), 4).as("ctr"))
        .select(col("label"), col("dim").cast("long").as("dim"),
          col("n_vecs"), col("ctr"))
        .orderBy("label", "dim")),

    // E11 (r13): exact integer-grid k-means, FULL oracle — DuckDB
    // replays init + every Lloyd round bit-for-bit (all arithmetic is
    // exact-integer by construction; Similarity.kmeansExact scaladoc).
    // The clustering stage of SemDeDup-style curation, here as a
    // first-class checkable operator instead of opaque model state.
    "embed_kmeans" -> ((s, dir) =>
      graft.operators.Similarity.kmeansExact(
          assertKmDim(Tables.load(s, dir, "embeddings")), "vec_id",
          "embedding", k = KmK, rounds = KmRounds, scale = KmScale)
        .orderBy("vec_id")),

    // E12 (r13): cluster-balanced selection — 25 deterministic
    // representatives per embed_kmeans cluster (the SemDeDup /
    // data-mixing selection stage), drawn in md5-bucket order via the
    // capacity-25 TopKPairs heap (never a k-partition window —
    // Similarity.clusterSample scaladoc). FULL oracle: the kmeans
    // replay + the same ranked draw.
    "embed_cluster_sample" -> ((s, dir) =>
      graft.operators.Similarity.clusterSample(
        assertKmDim(Tables.load(s, dir, "embeddings")), "vec_id",
        "embedding", perCluster = KmPerCluster, k = KmK,
        rounds = KmRounds)),

    // E13 (r14): exact power iteration — the corpus's top principal
    // direction in all-integer arithmetic (Similarity.pcaPowerExact
    // scaladoc: Gram matrix as one 4096-cell hash-agg + bounded
    // collect, truncating-division rescale both engines). FULL
    // oracle: DuckDB recomputes the integer Gram and replays every
    // round.
    "embed_pca_power" -> ((s, dir) =>
      graft.operators.Similarity.pcaPowerExact(
          assertKmDim(Tables.load(s, dir, "embeddings")), "embedding",
          rounds = PcaRounds, scale = PcaScale)
        .orderBy("pos")),

    // E7: embedding outlier screening — the 20 vectors LEAST cosine-
    // similar to the corpus mean, the cheap data-quality pass that
    // catches corrupted/degenerate embeddings before they poison
    // dedup/ANN results. The mean is a bounded model fit (dim doubles
    // via one posexplode hash-agg with map-side partials — the
    // embed_centroids shuffle shape, label-free); scoring is a pure
    // projection + TakeOrderedAndProject. The mean is rounded to 6 dp
    // on BOTH sides so Spark's partial-agg summation order and
    // DuckDB's sequential avg agree bit-for-bit before any cosine
    // arithmetic amplifies an ulp.
    "embed_outliers" -> ((s, dir) => {
      val v = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), VectorFunctions.asDouble(col("embedding")).as("v"))
      val mean = v.select(posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("pos").agg(round(avg(col("x")), 6).as("m"))
        .orderBy("pos").collect().map(_.getDouble(1))
      val mNorm = math.sqrt(mean.foldLeft(0.0)((a, x) => a + x * x))
      val cos = VectorFunctions.cosinePre(
        VectorFunctions.dot(col("v"), typedlit(mean.toSeq)),
        VectorFunctions.l2(col("v")), lit(mNorm))
      v.withColumn("mean_cos", round(cos, 4))
        .select("vec_id", "mean_cos")
        .orderBy(col("mean_cos").asc, col("vec_id"))
        .limit(20)
    }),

    // E8: embedding corpus integrity — the one-row health report an
    // ingest gate runs before any vector math: null payloads, NaN
    // components, zero-norm vectors (undefined cosine), and dimension
    // drift (a mixed-dim corpus silently breaks every dot product).
    // One pass, pure aggregates; the graph_integrity analog for the
    // embedding store.
    "embed_integrity" -> ((s, dir) => {
      val v = VectorFunctions.asDouble(col("embedding"))
      Tables.load(s, dir, "embeddings").agg(
        count(lit(1)).as("n_vecs"),
        count(when(col("embedding").isNull, 1)).as("null_vecs"),
        count_distinct(size(col("embedding"))).as("n_dims"),
        count(when(exists(v, x => isnan(x)), 1)).as("nan_vecs"),
        count(when(VectorFunctions.dot(v, v) === 0.0d, 1)).as("zero_norm_vecs"))
    }),

    // E4 contract check (oracle-backed): the int8-quantized search
    // must recover ≥ 0.9 of the exact threshold-search result pairs
    // — quantization error can both drop borderline pairs and admit
    // new ones (symmetric rounding), so recall is the contract, not
    // subset. Measured 1.0 (sf0.01) / 0.986 (sf0.1). DuckDB derives
    // the exact pair count; recall_ok is the literal expectation.
    "sim_quantized_check" -> ((s, dir) => {
      // exact threshold-search baseline staged once per JVM (the same
      // cost discipline as SketchQueries' staged ground truths: the
      // baseline is a deterministic corpus function the check would
      // otherwise recompute on every bench run)
      val exact = s.read.parquet(Staging.once("exact_threshold", dir) { p =>
        queries("sim_bruteforce_topk")(s, dir)
          .write.mode("overwrite").parquet(p)
      })
      val quant = queries("sim_quantized_topk")(s, dir)
      quant.select("q_id", "vec_id")
        .join(exact.select("q_id", "vec_id"), Seq("q_id", "vec_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .crossJoin(exact.agg(count(lit(1)).as("exact_n")))
        .select(col("exact_n"),
          (col("hits").cast("double") >= col("exact_n") * lit(0.9))
            .as("recall_ok"))
    })
  )

  /** The D5-style size guard on the RAW corpus table — probed before
    * any per-row vector work, so the guard costs a zero-column scan,
    * not an extra pass through quantize/dequantize/norm chains.
    * Opt-in for larger-SF benchmark runs comes from the environment
    * (`SPARK_GRAFT_ALLOW_ALLPAIRS=true` / `SPARK_GRAFT_ALLPAIRS_MAXROWS`)
    * — the operator-level flag isn't reachable from driver entries. */
  private[queries] def guardCorpus(t: org.apache.spark.sql.DataFrame, op: String)
      : org.apache.spark.sql.DataFrame =
    graft.operators.Guard.allPairsBaseline(t,
      maxRows = graft.operators.Guard.envMaxRows(),
      allow = graft.operators.Guard.envAllow, op,
      "Similarity.lshTopK/ivfTopK")

  /** Shared E1/E4 search protocol over a (vec_id, v, nrm) frame:
    * queries = vec_id ≡ 0 mod 100 (broadcast), threshold cosine ≥ 0.3,
    * deterministic ordering. One definition so exact and quantized
    * runs are always comparing the same protocol. Callers guard the
    * corpus with [[guardCorpus]]: the nested-loop scan is the exact
    * baseline, opt-out above 100k rows (scale path: Similarity LSH/IVF). */
  private def thresholdSearch(v: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val q = v.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val cos = VectorFunctions.cosinePre(
      VectorFunctions.dot(col("qv"), col("v")), col("qn"), col("nrm"))
    v.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .withColumn("cosine", cos)
      .filter(col("cosine") >= 0.3)
      .select(col("q_id"), col("vec_id"), round(col("cosine"), 4).as("cosine"))
      .orderBy("q_id", "vec_id")
  }

  /** One Lloyd round of the embed_kmeans oracle: assignment a`i` from
    * centroids c`i-1` (exact-integer distances via double dot
    * products, packed dist·8+cid tie key), then centroids c`i` =
    * floor(Σq / n) per (cid, pos) in pure integer arithmetic, emptied
    * clusters keeping their previous centroid. The final round skips
    * the update (the operator outputs the last assignment). dim = 64
    * is the embeddings-table contract (embed_integrity pins n_dims =
    * 1); k / scale / rounds are the SHARED named constants below —
    * the query entries pass the same ones to kmeansExact explicitly,
    * so operator/oracle drift is impossible by construction (ADVICE
    * r13: the literals here used to be hardcoded copies of the
    * operator defaults). */
  private[graft] val KmK = 8
  private[graft] val KmRounds = 3
  private[graft] val KmScale = 10000
  private[graft] val KmDim = 64 // embeddings-table contract (n_dims=1)
  private[graft] val KmPerCluster = 25
  private[graft] val PcaRounds = 3
  private[graft] val PcaScale = 100 // Gram entries: n·4·scale² ≪ 2⁶³

  /** The operator adapts to any dim but the oracle's update CTE pins
    * [[KmDim]] — make that pin fail LOUDLY (a one-row limit scan, not
    * a full pass) instead of silently summing a prefix of a wider
    * vector (ADVICE r13). */
  private def assertKmDim(emb: DataFrame): DataFrame = {
    emb.filter(col("embedding").isNotNull)
      .select(size(col("embedding")).as("d")).limit(1).collect()
      .foreach { r =>
        require(r.getInt(0) == KmDim,
          s"embed_kmeans oracle pins dim=$KmDim; table has ${r.getInt(0)}")
      }
    emb
  }

  private def kmRound(i: Int, last: Boolean): String = {
    val assign =
      s"""a$i AS ${if (last) "" else "MATERIALIZED "}(
            SELECT vec_id,
                   CAST(CAST(min(dist * $KmK + cid) AS BIGINT) % $KmK AS INT) AS cid
            FROM (SELECT v.vec_id, c.cid,
                    v.qq
                    + list_dot_product(CAST(c.c AS DOUBLE[]), CAST(c.c AS DOUBLE[]))
                    - 2 * list_dot_product(v.qd, CAST(c.c AS DOUBLE[])) AS dist
                  FROM v CROSS JOIN c${i - 1} c) d
            GROUP BY vec_id)"""
    if (last) assign
    else assign +
      s""",
         u$i AS (SELECT a.cid, r.pos, sum(v.q[r.pos]) AS s,
                        count(*) AS cnt
                 FROM a$i a JOIN v USING (vec_id),
                      unnest(range(1, ${KmDim + 1})) AS r(pos)
                 GROUP BY 1, 2),
         cn$i AS (SELECT cid,
                         list(CAST((s - ((s % cnt) + cnt) % cnt) // cnt
                                   AS BIGINT) ORDER BY pos) AS c
                  FROM u$i GROUP BY cid),
         c$i AS (SELECT p.cid, coalesce(n.c, p.c) AS c
                 FROM c${i - 1} p LEFT JOIN cn$i n USING (cid))"""
  }

  /** The shared WITH-chain ending in the final assignment `a3` —
    * spliced by both the embed_kmeans oracle and consumers of the
    * assignment (embed_cluster_sample). */
  private val kmeansCtes: String =
    s"""WITH v AS MATERIALIZED (
          SELECT vec_id, q, CAST(q AS DOUBLE[]) AS qd,
                 list_dot_product(CAST(q AS DOUBLE[]),
                                  CAST(q AS DOUBLE[])) AS qq
          FROM (SELECT vec_id,
                  list_transform(CAST(embedding AS DOUBLE[]),
                                 x -> CAST(floor(x * $KmScale) AS INT)) AS q
                FROM embeddings WHERE embedding IS NOT NULL) t),
        c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
                      CAST(q AS BIGINT[]) AS c
               FROM (SELECT vec_id, q FROM v ORDER BY vec_id LIMIT $KmK) s),
        ${(1 to KmRounds).map(i => kmRound(i, last = i == KmRounds)).mkString(",\n")}"""

  private val kmeansOracle: String =
    s"""$kmeansCtes
        SELECT vec_id, cid FROM a$KmRounds ORDER BY vec_id"""

  /** embed_cluster_sample oracle: the kmeans assignment ranked per
    * cluster by (md5-prefix bucket, vec_id) — the hashKeep draw —
    * cut at 25 (kept as a window here because DuckDB has no heap
    * aggregate; the row sets are identical by the TopKPairs
    * contract). */
  private val clusterSampleOracle: String =
    s"""$kmeansCtes,
        r AS (SELECT cid, vec_id,
                row_number() OVER (PARTITION BY cid ORDER BY
                  ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT,
                  vec_id) AS rk
              FROM a$KmRounds)
        SELECT cid, rk, vec_id FROM r WHERE rk <= $KmPerCluster ORDER BY cid, rk"""

  private val pcaOracle: String = {
    def round(r: Int) =
      s"""w$r AS (SELECT m.i AS pos, CAST(sum(m.m * v${r - 1}.v) AS BIGINT) AS w
                  FROM m JOIN v${r - 1} ON m.j = v${r - 1}.pos GROUP BY 1),
          s$r AS (SELECT greatest(CAST(1 AS BIGINT),
                                  max(abs(w)) // 1000) AS s FROM w$r),
          v$r AS (SELECT pos, w // s AS v FROM w$r, s$r)"""
    s"""WITH q AS (SELECT list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(floor(x * $PcaScale) AS BIGINT)) AS q
                   FROM embeddings WHERE embedding IS NOT NULL),
        m AS MATERIALIZED (
          SELECT i.i - 1 AS i, j.j - 1 AS j,
                 CAST(sum(q[i.i] * q[j.j]) AS BIGINT) AS m
          FROM q, unnest(range(1, ${KmDim + 1})) AS i(i),
               unnest(range(1, ${KmDim + 1})) AS j(j)
          GROUP BY 1, 2),
        v0 AS (SELECT i AS pos, CAST(1 AS BIGINT) AS v
               FROM range(0, $KmDim) t(i)),
        ${(1 to PcaRounds).map(round).mkString(",\n")}
        SELECT pos, v FROM v$PcaRounds ORDER BY pos"""
  }

  val oracles: Map[String, String] = Map(
    "embed_pca_power" -> pcaOracle,
    "embed_kmeans" -> kmeansOracle,
    "embed_cluster_sample" -> clusterSampleOracle,
    "sim_bruteforce_topk" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM v),
         q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n WHERE vec_id % 100 = 0)
         SELECT q_id, vec_id,
                round(list_dot_product(qv, v) / (qn * nrm), 4) AS cosine
         FROM q JOIN n ON q_id <> vec_id
         WHERE list_dot_product(qv, v) / (qn * nrm) >= 0.3
         ORDER BY q_id, vec_id""",
    "embed_integrity" ->
      """SELECT count(*) AS n_vecs,
                count(CASE WHEN embedding IS NULL THEN 1 END) AS null_vecs,
                count(DISTINCT len(embedding)) AS n_dims,
                count(CASE WHEN len(list_filter(CAST(embedding AS DOUBLE[]),
                                                x -> isnan(x))) > 0
                           THEN 1 END) AS nan_vecs,
                count(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]),
                                                 CAST(embedding AS DOUBLE[])) = 0
                           THEN 1 END) AS zero_norm_vecs
         FROM embeddings""",
    "embed_outliers" ->
      """WITH u AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS x,
                           generate_subscripts(embedding, 1) AS pos
                    FROM embeddings),
         m AS (SELECT pos, round(avg(x), 6) AS m FROM u GROUP BY pos),
         mv AS (SELECT list(m ORDER BY pos) AS mvec FROM m),
         v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         sc AS (SELECT vec_id,
                       round(list_dot_product(v, mvec) /
                             (sqrt(list_dot_product(v, v)) *
                              sqrt(list_dot_product(mvec, mvec))), 4) AS mean_cos
                FROM v, mv)
         SELECT vec_id, mean_cos FROM sc
         ORDER BY mean_cos ASC, vec_id LIMIT 20""",
    "embed_centroids" ->
      """WITH u AS (SELECT label, CAST(unnest(embedding) AS DOUBLE) AS x,
                           generate_subscripts(embedding, 1) AS i
                    FROM embeddings)
         SELECT label, CAST(i - 1 AS BIGINT) AS dim, count(*) AS n_vecs,
                round(avg(x), 4) AS ctr
         FROM u GROUP BY label, i ORDER BY label, dim""",
    "sim_quantized_check" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM v),
         q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n WHERE vec_id % 100 = 0),
         ex AS (SELECT q_id, vec_id FROM q JOIN n ON q_id <> vec_id
                WHERE list_dot_product(qv, v) / (qn * nrm) >= 0.3)
         SELECT count(*) AS exact_n, true AS recall_ok FROM ex"""
  )
}
