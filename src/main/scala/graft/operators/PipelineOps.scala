package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Training-data pipeline operators beyond the dedup/similarity
  * families: deterministic dataset splitting, decontamination, and
  * near-dup cluster canonicalization. All shuffle-bounded: splitting
  * is a pure projection, decontamination is an inverted-index
  * equi-join, clustering is iterative min-label propagation over the
  * (sparse) near-dup pair graph. Multi-consumer relations are pinned
  * through [[Pins.pin]] (cache lifetime: its scaladoc).
  */
object PipelineOps {

  /** Deterministic content-hash split assignment: bucket =
    * first-8-hex-chars of md5(content) mod 100 → train/val/test by
    * `pctTrain`/`pctVal`. Content-keyed (not id-keyed), so the
    * assignment is stable under re-ingestion and re-iding, and
    * duplicate payloads land in the same split — the property that
    * prevents train/test leakage through near-identical copies.
    * Pure per-row projection: no shuffle at any scale.
    */
  /** 0–99 hash bucket of a column's string form — the one bucketing
    * expression shared by splitting and sampling (its DuckDB oracle
    * mirror is `('0x' || substr(md5(coalesce(x, '')), 1, 8))::BIGINT
    * % 100` — the oracles carry the same coalesce so the two engines
    * agree on null keys too).
    * A NULL key buckets as the empty string rather than propagating
    * NULL: md5(NULL) would make the keep-predicate NULL → silently
    * dropped rows, under-sampling any tier with null keys at every
    * pct — including 100 (observed-risk from review; now nulls are
    * deterministically assigned like any other value). */
  private def hashBucket(c: Column): Column =
    conv(substring(md5(coalesce(c.cast("string"), lit(""))), 1, 8), 16, 10)
      .cast("long") % 100

  def splitAssign(contentCol: String,
                  pctTrain: Int = 80, pctVal: Int = 10): Column = {
    val bucket = hashBucket(col(contentCol))
    when(bucket < pctTrain, "train")
      .when(bucket < pctTrain + pctVal, "val")
      .otherwise("test")
  }

  /** Stratified train/val/test split with EXACT per-stratum
    * allocation — the eval-set construction contract [[splitAssign]]
    * cannot give: hash bucketing hits the 80/10/10 proportions only
    * in expectation (a 200-doc stratum can land 72/14/14), while
    * benchmark/eval curation needs |train_s| = ⌊0.8·n_s⌋ EXACTLY per
    * stratum. Rows are ranked within their stratum by
    * (md5(id), id) — a content-blind, layout-independent total
    * order both engines replay — and cut at the exact floor
    * boundaries, so the assignment is deterministic row-for-row, not
    * just in distribution.
    *
    * Cost note (the honest trade): exact allocation needs a
    * per-stratum rank = one shuffle on the stratum key + per-stratum
    * sort, and parallelism is bounded by the stratum count. For a
    * handful of giant strata at the 100-TB point, use [[splitAssign]]
    * (pure projection, proportions in expectation) for train and
    * reserve this operator for the val/test tail where exactness is
    * the point; for high-cardinality strata (per-domain, per-shard)
    * it parallelizes naturally.
    *
    * Returns the input plus (`rn`, `n_s`, `split`).
    */
  def stratifiedSplit(df: org.apache.spark.sql.DataFrame,
                      stratumCol: String, idCol: String,
                      pctTrain: Int = 80, pctVal: Int = 10)
      : org.apache.spark.sql.DataFrame = {
    require(pctTrain >= 0 && pctVal >= 0 && pctTrain + pctVal <= 100,
      s"stratifiedSplit: bad percentages $pctTrain/$pctVal")
    // withColumn would silently REPLACE pre-existing columns of these
    // names (e.g. a frame already carrying a `split` from
    // splitAssign), corrupting caller data with no error (ADVICE
    // r11) — refuse loudly instead; callers rename or drop first.
    val clash = df.columns.toSet.intersect(Set("rn", "n_s", "split"))
    require(clash.isEmpty,
      s"stratifiedSplit: input already has column(s) ${clash.mkString(", ")} " +
        "which this operator emits; rename or drop them first")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(stratumCol)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    val cw = org.apache.spark.sql.expressions.Window.partitionBy(stratumCol)
    df.withColumn("rn", row_number().over(w))
      .withColumn("n_s", count(lit(1)).over(cw))
      .withColumn("split",
        when(col("rn") <= floor(col("n_s") * lit(pctTrain) / lit(100.0)),
          "train")
        .when(col("rn") <= floor(col("n_s") * lit(pctTrain + pctVal)
          / lit(100.0)), "val")
        .otherwise("test"))
  }

  /** J16 (r12): URL/source canonicalization — the FineWeb/CCNet
    * first-stage curation key (VERDICT r11 #6): crawls carry the same
    * page under scheme/case/www/query/fragment/trailing-slash
    * variants, and URL-keyed dedup without canonicalization silently
    * keeps them all. Pure string expressions (lower + five
    * `regexp_replace`s — Java regex and RE2 agree on this subset), so
    * it rides whole-stage codegen as a projection and the DuckDB
    * oracle is the same expression chain:
    *
    *   1. trim + lower-case
    *   2. strip `http://` / `https://`
    *   3. strip a leading `www.`
    *   4. strip the fragment (`#...`) — before the query, since the
    *      fragment legally follows it
    *   5. strip the query string (`?...`) — the FineWeb posture
    *      (tracking params dominate; param-allowlists are a caller
    *      concern layered on top)
    *   6. strip trailing slashes
    *
    * NULL input → NULL out (every step is null-propagating); dedup
    * callers groupBy the result, where NULL keys group together —
    * same posture as [[splitAssign]]'s coalesce-free hash.
    */
  def canonicalUrl(u: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(lower(trim(u)), "^https?://", ""),
            "^www\\.", ""),
          "#.*$", ""),
        "\\?.*$", ""),
      "/+$", "")

  /** Deterministic hash sampling: keep a row iff its content hash
    * bucket falls under `pct` (0–100). The sampling decision is a pure
    * per-row projection — reproducible across runs, machines, and
    * partitionings (unlike `df.sample`, whose output depends on
    * partition layout), which is what a mixture-weighted corpus build
    * needs: re-running the pipeline yields the identical subset.
    */
  def hashKeep(keyCol: Column, pct: Column): Column =
    hashBucket(keyCol) < pct

  /** [[hashKeep]] at parts-per-million granularity — for COMPUTED
    * fractional rates (temperature resampling) where integer percent
    * is too coarse. Same md5-prefix bucket family and null posture;
    * the DuckDB mirror is the same expression with `% 1000000`. */
  def hashKeepPpm(keyCol: Column, ppm: Column): Column =
    (conv(substring(md5(coalesce(keyCol.cast("string"), lit(""))), 1, 8), 16, 10)
      .cast("long") % 1000000) < ppm

  /** The reference's `ORDER BY rand() LIMIT n` sampling
    * (04-optimize-tables.sql:124-131), seeded. Physically this is
    * TakeOrderedAndProject — each partition keeps its top-n by the
    * seeded draw and the driver merges n·partitions candidate rows —
    * so there is no global sort and no full shuffle at any scale.
    * `rand(seed)` is deterministic per (partition, row position):
    * reproducible for a fixed input layout; for layout-independent
    * sampling use [[hashKeep]] (content-keyed). */
  def sampleRand(df: DataFrame, n: Int, seed: Long): DataFrame =
    df.orderBy(rand(seed)).limit(n)

  /** Decontamination: flag training documents sharing ≥ `minShared`
    * distinct word n-grams with any document of the eval set
    * (`isEval`). The classic eval-leakage scan, shaped as the same
    * posting-list equi-join as the Jaccard dedup — candidates only
    * where an n-gram collides, with the df-cap bounding stop-shingle
    * fan-out. Output: (doc_id, n_shared) per contaminated train doc.
    */
  /** Hashed (doc, is_eval, tok) shingle stream + kept-token filter —
    * [[decontaminate]]'s sub-pipeline, factored r16 (wiring the
    * planted truth onto it was measured slower at ×10 and reverted —
    * see Dedup.cappedShingleStream's note and OPTIMIZATION_r16.md §4).
    *
    * Shuffles an 8-byte xxhash64 of each shingle instead of the
    * n-word string: the exchange carries ~5× less payload and
    * hashes/compares fixed-width longs. A 64-bit collision (two
    * distinct shingles of one doc-pair colliding) is ~2^-64 per pair
    * — far below any curation-relevant signal.
    * `sh` persisted: the token stream feeds both the per-token
    * presence counts and the train-side semi-join stream —
    * unpersisted, the corpus scan + shingle explode runs twice (same
    * rationale as the Jaccard index; 17 B per token occurrence).
    *
    * TWO-PASS df cap, and no posting list at all: the shared-shingle
    * count per train doc only needs each token's eval/train presence
    * counts, never the member lists. Pass 1 counts both sides per
    * token (pure long aggregates, map-side partial agg — constant
    * per-key state, unlike the collect_set buffers the single-pass
    * form materialized BEFORE its cap filter: a stop-shingle in 10^8
    * docs is a ~GB single-key buffer, the same executor-OOM hazard as
    * the Jaccard posting lists). Shingles are array_distinct per doc,
    * so a count over (doc, tok) rows equals the distinct-doc set size
    * the collect_set form measured. */
  private[graft] def evalTokenStream(docs: DataFrame, idCol: String,
                                     textCol: String, isEval: Column,
                                     n: Int, dfCap: Long)
      : (DataFrame, DataFrame) = {
    // widen + materialized token attribute (TextOps.withTokens — the
    // ngrams caller contract) before the shingle explode
    val sh = TextOps.withTokens(docs, textCol,
        Seq(col(idCol).as("doc_id"), isEval.as("is_eval")))
      .select(col("doc_id"), col("is_eval"),
        explode(TextOps.shingles(col("graft_toks"), n)).as("s"))
      .select(col("doc_id"), col("is_eval"), xxhash64(col("s")).as("tok"))
      .transform(Pins.pin)
    val kept = sh.groupBy("tok").agg(
        count(when(col("is_eval"), lit(1))).as("n_eval"),
        count(when(!col("is_eval"), lit(1))).as("n_train"))
      .filter(col("n_eval") > 0 && col("n_train") > 0 &&
              (col("n_eval") + col("n_train")) <= dfCap)
      .select("tok")
    (sh, kept)
  }

  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
                    isEval: Column, n: Int = 5, minShared: Long = 3,
                    dfCap: Long = 1000L): DataFrame = {
    // pass 2 semi-joins the train-side token stream against surviving
    // tokens and counts per doc — identical output to the posting-list
    // form, bounded state at any corpus size
    val (sh, kept) = evalTokenStream(docs, idCol, textCol, isEval, n, dfCap)
    sh.filter(!col("is_eval"))
      .join(kept, Seq("tok"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** J10: concat-and-chunk sequence packing — the training-batch
    * layout step: documents are laid end-to-end (in `idCol` order
    * within each `partCol` shard) into a token stream that is chunked
    * into fixed-`budget` training sequences; each document is assigned
    * the sequence containing its START offset. Appends `seq_id` and
    * `seq_offset` (position of the doc's first token inside its
    * sequence).
    *
    * Scale stance: the running offset is a window sum PARTITIONED by
    * the shard column — a per-shard sort, the layout packing already
    * implies, never a single global ordering (an unpartitioned window
    * would serialize the whole corpus through one task; real pipelines
    * pack per output shard exactly so this stays parallel).
    */
  def packSequences(docs: DataFrame, idCol: String, partCol: String,
                    tokCol: String, budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(partCol).orderBy(idCol)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
                   org.apache.spark.sql.expressions.Window.currentRow)
    val start = sum(col(tokCol)).over(w) - col(tokCol)
    docs
      .withColumn("graft_start", start)
      // INTEGRAL divide, not floor(x / double): the double quotient
      // loses exactness once a shard's running token offset passes
      // 2^53 — at trillion-token shards that is a real horizon, and a
      // mis-rounded seq_id silently misplaces a document boundary
      .withColumn("seq_id", expr(s"graft_start div $budget"))
      .withColumn("seq_offset", (col("graft_start") % budget).cast("long"))
      .drop("graft_start")
  }

  /** Near-dup cluster canonicalization: connected components over a
    * pair list, labeling every member with the minimum doc id of its
    * component (the canonical "keeper"). Iterative min-label
    * propagation — each step is one equi-join + hash-agg shuffle, and
    * the iteration count is the graph diameter (near-dup clusters are
    * shallow; the [[Fixpoint]] loop stops at the fixpoint, detected by
    * the strictly-decreasing label sum, and throws past `maxIters`).
    *
    * @param checkpointDir when set, iteration state is written to this
    *   RELIABLE location (HDFS/S3 on a cluster) as parquet round-trips
    *   instead of `localCheckpoint`: local checkpoints pin blocks to
    *   executors, so one executor loss mid-iteration kills the job —
    *   fine on a laptop, not across a 1000-executor fleet where some
    *   loss is routine. Parquet round-trips (rather than RDD
    *   `checkpoint()`) keep the cost bounded and under our control:
    *   no global `setCheckpointDir` mutation of the host application,
    *   and each label iteration's files are DELETED as soon as the
    *   next iteration is fully written, so the directory holds at
    *   most the edge list + two label iterations — not one copy per
    *   iteration accumulating forever (review finding). The edge list
    *   and the final iteration remain on disk because the returned
    *   DataFrame reads from them; delete the directory after
    *   consuming the result. Default stays local (tests,
    *   single-node). */
  def dedupClusters(pairs: DataFrame, iCol: String = "i", jCol: String = "j",
                    maxIters: Int = 20,
                    checkpointDir: Option[String] = None): DataFrame = {
    val ck: DataFrame => DataFrame = checkpointDir match {
      case Some(dir) =>
        val spark = pairs.sparkSession
        val root = new org.apache.hadoop.fs.Path(dir)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        var step = 0
        var prevLabels: Option[org.apache.hadoop.fs.Path] = None
        df => {
          val p = new org.apache.hadoop.fs.Path(root, s"iter_$step")
          val isEdges = step == 0 // the edge list joins in EVERY
          step += 1               // iteration — never delete it
          df.write.mode("overwrite").parquet(p.toString)
          if (!isEdges) {
            // the previous labels were input to what was just fully
            // written — safe to reclaim now
            prevLabels.foreach(fs.delete(_, true))
            prevLabels = Some(p)
          }
          spark.read.parquet(p.toString)
        }
      case None => df => df.localCheckpoint()
    }
    // materialize the edge list ONCE — it participates in every
    // iteration's join, and without truncation each iteration would
    // re-run the (expensive) upstream pair-generation pipeline.
    // r15 opt (r16 refinements): REPARTITION ON THE JOIN KEY — AND
    // PRE-SORT ON IT — before materializing: a localCheckpoint'ed
    // plan KEEPS its physical partitioning and ordering (LogicalRDD
    // carries outputPartitioning + outputOrdering), so each
    // iteration's sort-merge join exchanges AND sorts only the |V|
    // label vector instead of re-exchanging/re-sorting the |E| edge
    // list (the GraphOps r11 loop-invariant discipline, applied to
    // the one iterative loop that materializes instead of pinning;
    // the missing sort was found by the r16 probe — SMJ re-sorted
    // |E| every round). The keyed layout is applied ONLY on the
    // localCheckpoint path (ADVICE r15): the parquet-checkpoint
    // branch loses partitioning on re-read (parquet scans report
    // Unknown partitioning), so there the extra |E| exchange before
    // the write bought nothing per-iteration — the durable path
    // keeps its plain write shape.
    val sym = pairs.select(col(iCol).as("a"), col(jCol).as("b"))
      .union(pairs.select(col(jCol).as("a"), col(iCol).as("b")))
    val edges = ck(if (checkpointDir.isEmpty)
      sym.repartition(col("b")).sortWithinPartitions("b") else sym)
    val (labels0, sum0) = Fixpoint.checkpoint(edges.groupBy("a")
      .agg(min(least(col("a"), col("b"))).as("lbl"))
      .select(col("a").as("n"), col("lbl")), sum("lbl"), ck)
    // loudness discipline (same as the LSH recall clamp): min-label
    // propagation converges in diameter iterations, and near-dup
    // graphs are shallow — but a LONG dup chain (a doc edited
    // repeatedly, each revision near-dupping the previous) can exceed
    // maxIters, and unconverged labels would split one cluster into
    // several canonical "keepers", so the loop throws instead
    val labels = Fixpoint.untilStable("dedupClusters", maxIters,
        labels0, sum0)(labels =>
      // each node takes the min of its own label and its neighbors' —
      // the self-label rides the aggregation as a unioned row, so one
      // join + one hash-agg (2 shuffles) replaces the naive
      // join/agg/join-back (3): a third fewer exchanges per iteration,
      // which is the whole per-iteration cost at cluster scale;
      // checkpointing truncates the per-iteration lineage (standard
      // for iterative graph algorithms) so plan size stays constant,
      // and the strictly-decreasing label sum is observed by that
      // same checkpoint job
      Fixpoint.checkpoint(edges
        .join(labels.withColumnRenamed("n", "b"), "b")
        .select(col("a"), col("lbl"))
        .union(labels.select(col("n").as("a"), col("lbl")))
        .groupBy(col("a").as("n")).agg(min(col("lbl")).as("lbl")),
        sum("lbl"), ck))
    labels.select(col("n").as("doc_id"), col("lbl").as("cluster_id"))
  }
}
