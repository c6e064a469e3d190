package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Dedup, PipelineOps}

/** Training-data pipeline composition operators (beyond SURVEY §2's
  * lettered inventory — the "operations a large-scale training-data
  * pipeline would need" extension): content-hash dataset splitting,
  * train/eval decontamination, and near-dup cluster canonicalization.
  */
object CorpusQueries extends QueryPack {

  val queries: Map[String, Q] = Map(
    // deterministic content-keyed train/val/test split, stratified
    // rollup for validation (the split itself is a pure projection).
    "split_assign" -> ((s, dir) =>
      Tables.load(s, dir, "documents")
        .withColumn("split", PipelineOps.splitAssign("text"))
        .groupBy("split", "lang").agg(count(lit(1)).as("n_docs"))
        .orderBy("split", "lang")),

    // J15 (r11): stratified split with EXACT per-source allocation —
    // |train_s| = ⌊0.8·n_s⌋ per stratum by construction, not in
    // expectation (the eval-curation contract; split_assign above is
    // the in-expectation scale path). Rollup output: per (source,
    // split) counts plus the stratum size, so the oracle compare
    // certifies the exact-floor arithmetic for every stratum.
    "corpus_stratified_split" -> ((s, dir) =>
      PipelineOps.stratifiedSplit(
          Tables.load(s, dir, "documents"), "source", "doc_id")
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n_docs"), max(col("n_s")).as("n_stratum"))
        .orderBy("source", "split")),

    // J16 (r12): URL canonicalization + keep-first dedup (VERDICT r11
    // #6) — the FineWeb/CCNet first-stage curation step. The corpus
    // tables carry no raw URLs, so the entry DERIVES a deterministic
    // URL per document from its own fields (scheme / case / www /
    // trailing-slash / query / fragment variants keyed by doc_id
    // residues — the same derivation in both engines), canonicalizes
    // (PipelineOps.canonicalUrl — six null-propagating string
    // expressions), and runs the D1 keep-first shape on the canonical
    // key: one hash-agg, min(doc_id) survivor + dup count.
    "corpus_url_dedup" -> ((s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          concat(
            when(col("doc_id") % 3 === 0, "http://")
              .when(col("doc_id") % 3 === 1, "https://")
              .otherwise("HTTPS://www."),
            // coalesce: Spark's concat NULLs out on any NULL arg while
            // DuckDB's skips them — pin both engines to '' (ADVICE r12)
            when(col("doc_id") % 2 === 0,
              upper(coalesce(col("source"), lit(""))))
              .otherwise(coalesce(col("source"), lit(""))),
            lit(".example.com/docs/"),
            coalesce(col("lang"), lit("")), lit("/"),
            (col("doc_id") % 50).cast("string"),
            when(col("doc_id") % 2 === 0, "/").otherwise(""),
            when(col("doc_id") % 5 === 0, "?utm_source=feed&ref=rss")
              .otherwise(""),
            when(col("doc_id") % 7 === 0, "#section-2").otherwise(""))
            .as("url"))
        .withColumn("canonical_url", PipelineOps.canonicalUrl(col("url")))
        .groupBy("canonical_url")
        .agg(min(col("doc_id")).as("keep_doc_id"),
          count(lit(1)).as("dup_count"))
        .orderBy("canonical_url")),

    // eval-leakage scan: train docs sharing >= 3 distinct 5-gram
    // shingles with the eval slice (source = 'src0').
    "decontaminate" -> ((s, dir) =>
      PipelineOps.decontaminate(Tables.load(s, dir, "documents"),
          "doc_id", "text", isEval = col("source") === "src0",
          n = 5, minShared = 3L)
        .orderBy("doc_id")),

    // canonical keeper per near-dup cluster: connected components over
    // the 3-gram Jaccard >= 0.5 pair graph.
    "dedup_clusters" -> ((s, dir) =>
      PipelineOps.dedupClusters(
        Dedup.jaccardPairs(Tables.load(s, dir, "documents"),
          "doc_id", "text", n = 3, tau = 0.5, dfCap = 1000L))
        .orderBy("doc_id")),

    // J11: the consumable of near-dup dedup — the surviving documents
    // after cluster canonicalization (keep each cluster's canonical
    // root, drop the other members, keep everything unclustered) —
    // what exactKept is to D1. One anti-join on the drop set
    // (|cluster members| − |clusters| ids): AQE broadcasts it while it
    // fits; on a heavily-duplicated corpus (web crawls run 30%+
    // near-dup) it degrades gracefully to a single id-keyed shuffle
    // join — ids only, never row payloads, on either side of the
    // exchange.
    // D9 (new r6): sub-document span dedup — first occurrence of every
    // 3-word chunk survives, later repeats are cut, docs reassembled.
    // 3-word chunks because this corpus has no line/sentence structure
    // and its small vocabulary gives real cross-doc span duplication
    // (~19% of spans at sf0.001). md5 of the rebuilt text proves exact
    // reassembly parity without hauling payloads through the compare.
    "dedup_spans" -> ((s, dir) =>
      Dedup.spanDedup(
          Tables.load(s, dir, "documents").filter(col("text").isNotNull)
            .select(col("doc_id"),
              graft.operators.TextOps.wordChunks(
                split(col("text"), " "), 3).as("spans")),
          "doc_id", "spans")
        .select(col("doc_id"), col("n_spans"), col("n_kept"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id")),

    // D9 incremental verdict: spanDedupAgainst through a REAL persisted
    // span filter (history = even docs, batch = every third doc).
    // Structural guarantees checked quantitatively: survivors never
    // include a history span (Bloom no-false-negative ⇒ kept ≤ the
    // exact fresh-span count) and false positives cut at most ~fpp of
    // the novel spans (bounded at 5% + small-sample slack).
    "dedup_spans_incremental_check" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents").filter(col("text").isNotNull)
      def spansOf(part: org.apache.spark.sql.DataFrame) =
        part.select(col("doc_id"), graft.operators.TextOps.wordChunks(
          split(col("text"), " "), 3).as("spans"))
      val path = Staging.once("span_bloom", dir) { p =>
        graft.operators.Sketches.buildExactBloom(
          spansOf(docs.filter(col("doc_id") % 2 === 0))
            .select(posexplode(col("spans")).as(Seq("idx", "span"))),
          "span", s"$p/bloom.bin")
      } + "/bloom.bin"
      val batch = spansOf(docs.filter(col("doc_id") % 3 === 0))
      val out = Dedup.spanDedupAgainst(batch, "doc_id", "spans", path)
      val batchSpans = batch
        .select(posexplode(col("spans")).as(Seq("idx", "span")))
      val histSpans = spansOf(docs.filter(col("doc_id") % 2 === 0))
        .select(explode(col("spans")).as("span")).distinct()
      val exact = batchSpans.join(histSpans, Seq("span"), "left_anti")
        .agg(countDistinct(col("span")).as("exact_kept"))
      out.agg(count(lit(1)).as("n_docs"), sum("n_kept").as("kept"))
        .crossJoin(exact)
        .select(col("n_docs"),
          (col("kept") <= col("exact_kept")).as("kept_le_exact"),
          (col("exact_kept") - col("kept") <=
            greatest(lit(5L), (col("exact_kept") * 0.05).cast("long")))
            .as("fp_ok"))
    }),

    "dedup_survivors" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      // the cluster map is J3's output, staged once per JVM (the
      // staged-ground-truth discipline): this entry's operator is the
      // SURVIVOR anti-join, and re-running the whole pair+closure
      // pipeline here double-counted J3's cost in J11's number
      val drop = stagedClusters(s, dir)
        .filter(col("doc_id") =!= col("cluster_id")).select("doc_id")
      docs.join(drop, Seq("doc_id"), "left_anti")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    // J3/J11/decontaminate contracts at 100×-scale packs (r11,
    // VERDICT r10 #1 — the planted-pair methodology; truth from
    // Planted.* is LINEAR where these operators' exact oracles are
    // quadratic at 500k docs). Unplanted corpora → empty truth,
    // trivial regime shown honestly.
    // Every planted pair above the cluster threshold must be
    // CO-CLUSTERED — its edge is in the pair graph, so connectivity
    // guarantees one component; a split pair means the label loop or
    // the pair generation dropped it.
    "dedup_clusters_planted_check" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val truth = Planted.ngramTruth(docs, n = 3, tau = 0.5, dfCap = 1000L)
      val cl = stagedClusters(s, dir)
      val co = truth
        .join(cl.select(col("doc_id").as("i"), col("cluster_id").as("ci")), "i")
        .join(cl.select(col("doc_id").as("j"), col("cluster_id").as("cj")), "j")
        .filter(col("ci") === col("cj"))
      truth.agg(count(lit(1)).as("planted_pairs"))
        .crossJoin(co.agg(count(lit(1)).as("co")))
        .select(col("planted_pairs"),
          (col("co") === col("planted_pairs")).as("all_co_clustered"))
    }),

    // ... and of each planted pair AT MOST ONE doc survives
    // canonicalization (both co-clustered ⇒ one root): both-survive
    // count must be exactly 0.
    "dedup_survivors_planted_check" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val truth = Planted.ngramTruth(docs, n = 3, tau = 0.5, dfCap = 1000L)
      val drop = stagedClusters(s, dir)
        .filter(col("doc_id") =!= col("cluster_id")).select("doc_id")
      val surv = docs.join(drop, Seq("doc_id"), "left_anti").select("doc_id")
      val both = truth
        .join(surv.select(col("doc_id").as("i")), Seq("i"), "left_semi")
        .join(surv.select(col("doc_id").as("j")), Seq("j"), "left_semi")
      truth.agg(count(lit(1)).as("planted_pairs"))
        .crossJoin(both.agg(count(lit(1)).as("both_survive")))
        .select(col("planted_pairs"), col("both_survive"),
          (col("both_survive") === 0).as("dedup_ok"))
    }),

    // Every PLANTED near-copy of an eval (src0) doc that shares ≥ 3
    // kept 5-gram shingles with its original must be flagged by the
    // leakage scan — shared-with-the-original lower-bounds
    // shared-with-the-eval-slice, so recall is 1.0 for the exact
    // operator, with a LINEAR id-mapped truth.
    "decontaminate_planted_check" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val truth = Planted.contaminationTruth(docs,
        isEval = col("source") === "src0", n = 5, minShared = 3L,
        dfCap = 1000L)
      val flagged = PipelineOps.decontaminate(docs, "doc_id", "text",
        isEval = col("source") === "src0", n = 5, minShared = 3L)
      val missed = truth.join(flagged.select("doc_id"),
        Seq("doc_id"), "left_anti")
      truth.agg(count(lit(1)).as("planted_contam"))
        .crossJoin(missed.agg(count(lit(1)).as("missed")))
        .select(col("planted_contam"),
          (col("missed") === 0).as("all_flagged"))
    }),

    // mixture-weighted corpus build: deterministic hash-sampled
    // downsampling per source tier (keep rates keyed on doc_id hash,
    // reproducible across runs/partitionings), validated as per-source
    // surviving counts. The decision is a pure projection — at 100 TB
    // this is a scan with zero shuffle before the tiny rollup.
    "sample_mix" -> ((s, dir) => {
      val rate = when(col("source") === "src0", 100)
        .when(col("source").isin("src1", "src2"), 60)
        .otherwise(25)
      Tables.load(s, dir, "documents")
        .filter(PipelineOps.hashKeep(col("doc_id"), rate))
        .groupBy("source").agg(count(lit(1)).as("n_kept"))
        .orderBy("source")
    }),

    // J13 (r8): temperature-based mixture resampling — the
    // multilingual rebalancing step of LLM data mixing: sampling
    // probability ∝ share^α (α = 0.5, budget = half the corpus)
    // flattens head languages and up-weights the tail. The per-lang
    // keep rate derives from two tiny aggregates, is FROZEN to
    // integer parts-per-million (the cross-engine threshold is then
    // exact), broadcast onto the scan (|languages| rows — scale-free),
    // and applied as the same deterministic md5-bucket draw as
    // sample_mix/splitAssign: layout-independent, reproducible, one
    // scan, zero data shuffles.
    "sample_temperature" -> ((s, dir) => {
      val alpha = 0.5; val budget = 0.5
      val docs = Tables.load(s, dir, "documents")
      val counts = docs.groupBy("lang").agg(count(lit(1)).as("c"))
      val tot = counts.agg(sum(col("c")).as("n"),
        sum(pow(col("c"), alpha)).as("z"))
      val rates = counts.crossJoin(broadcast(tot))
        .withColumn("keep", least(lit(1.0),
          pow(col("c"), alpha) / col("z") * col("n") * budget / col("c")))
        .select(col("lang"),
          floor(col("keep") * 1000000).cast("long").as("rate_ppm"))
      docs.join(broadcast(rates), "lang")
        .filter(PipelineOps.hashKeepPpm(col("doc_id"), col("rate_ppm")))
        .select(col("doc_id"), col("lang"), col("rate_ppm"))
        .orderBy("doc_id")
    }),

    // the reference's `ORDER BY rand() LIMIT n` spot-check sampling
    // (04-optimize-tables.sql:124-131), seeded. Rows-only: DuckDB's
    // rand() stream can't equal Spark's; determinism + size + subset
    // invariants live in CorpusSpec.
    "sample_rand" -> ((s, dir) =>
      randSample(s, dir).orderBy("doc_id")),

    // J12 (r8): deterministic bottom-k-by-hash sampling — per
    // language, the 3 docs with the smallest md5(doc_id). The
    // layout-independent complement to J9's seeded rand(): the draw is
    // a pure function of the KEYS, so it is reproducible across
    // engines (FULL oracle, not a shape check), stable under
    // repartition/re-ingest, and MERGEABLE — bottom-k of a union is
    // the bottom-k of each side's bottom-k, so daily samples compose
    // into a corpus sample without re-reading history (the bottom-k
    // sketch, the same state discipline as the D10–D13 families).
    // Same per-key window top-n plan as LIMIT n BY (local per-key
    // sort, never global).
    "sample_bottomk" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy("h", "doc_id")
      Tables.load(s, dir, "documents")
        .withColumn("h", md5(col("doc_id").cast("string")))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("lang"), col("rk"), col("doc_id"), col("h"))
        .orderBy("lang", "rk")
    }),

    // J9 contract check (oracle-backed): WHICH rows the seeded draw
    // picks is Spark-internal (DuckDB's rand() stream differs), but
    // the sample's SHAPE is checkable: exactly least(n, |docs|) rows,
    // every one a real (doc_id, source) row of the source table.
    "sample_rand_check" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents").select("doc_id", "source")
      val sample = randSample(s, dir)
      sample.agg(count(lit(1)).as("n_rows"))
        .crossJoin(sample.join(docs, Seq("doc_id", "source"), "left_anti")
          .agg(count(lit(1)).as("not_in_source")))
        .select(col("n_rows"), col("not_in_source"))
    }),

    // J10: sequence packing — documents laid end-to-end per source
    // shard (BPE-ish token counts, the unit training budgets use) and
    // chunked into 512-token training sequences. The window is
    // partitioned by shard: per-shard sort, no global ordering.
    "pack_sequences" -> ((s, dir) =>
      PipelineOps.packSequences(
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            size(graft.operators.TextOps.bpeishTokens(col("text")))
              .cast("long").as("n_bpe")),
        "doc_id", "source", "n_bpe", 512L)
        .orderBy("doc_id")),

    // corpus token-count distribution per language — the shape/mixing
    // stats a data-curation run reports. Exact interpolated
    // percentiles (both engines use linear interpolation); one
    // hash-agg, 5 groups.
    "corpus_stats" -> ((s, dir) => {
      val ntoks = size(graft.operators.TextOps.tokens(col("text")))
      Tables.load(s, dir, "documents")
        .select(col("lang"), ntoks.as("n_toks"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_toks")).cast("long").as("total_tokens"),
             round(expr("percentile(n_toks, 0.5)"), 4).as("p50_toks"),
             round(expr("percentile(n_toks, 0.95)"), 4).as("p95_toks"))
        .orderBy("lang")
    }),

    // J8-at-scale: the same distribution stats with BOUNDED aggregation
    // state. Exact percentile() buffers every value per group — fine
    // for the small-SF oracle entry above, but per-language groups at
    // corpus scale hold billions of values (the same buffer-blowup
    // class as the uncapped posting lists). approx_percentile is a
    // bounded quantile summary (GK sketch) at any group size; the
    // entry is its own accuracy check — |approx − exact| within
    // max(1, 5% relative), oracle-compared as a per-language verdict.
    // The absolute floor of 1 token matters: exact percentile()
    // INTERPOLATES between neighboring integer counts while
    // approx_percentile returns an actual data value even when its
    // summary is lossless, so on short-doc groups the interpolation
    // gap (≤ 1 by construction for integer data) can exceed any
    // purely relative tolerance (review finding).
    "corpus_stats_approx" -> ((s, dir) => {
      val ntoks = size(graft.operators.TextOps.tokens(col("text")))
      def ok(ap: String, ex: String) =
        (abs(col(ap) - col(ex)) <=
          greatest(lit(1.0), abs(col(ex)) * 0.05)).as(s"${ap}_ok")
      Tables.load(s, dir, "documents")
        .select(col("lang"), ntoks.as("n_toks"))
        .groupBy("lang")
        .agg(expr("percentile(n_toks, 0.5)").as("e50"),
             expr("percentile(n_toks, 0.95)").as("e95"),
             expr("approx_percentile(n_toks, 0.5)").cast("double").as("a50"),
             expr("approx_percentile(n_toks, 0.95)").cast("double").as("a95"))
        .select(col("lang"), ok("a50", "e50"), ok("a95", "e95"))
        .orderBy("lang")
    }),

    // the end-to-end curation pipeline a training-data job runs:
    // quality filter -> exact dedup (full surviving rows) -> split
    // assignment -> per-split accounting. Composition of F1 + D1 + J1
    // in one declarative plan: Catalyst fuses the filter and split
    // projections around the single dedup hash-agg.
    "corpus_curate" -> ((s, dir) => {
      val toks = graft.operators.TextOps.tokens(col("text"))
      val stopRatio = graft.operators.TextOps
        .occurrences(toks, graft.operators.TextOps.Stopwords)
        .cast("double") / size(toks)
      val quality = least(size(toks).cast("double") / lit(100.0), lit(1.0)) *
        (lit(1.0) - stopRatio)
      val curated = Dedup.exactKept(
        Tables.load(s, dir, "documents").filter(quality >= 0.3),
        "doc_id", "text")
        .withColumn("split", PipelineOps.splitAssign("text"))
      curated.groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
             round(avg(length(col("text"))), 4).as("avg_chars"))
        .orderBy("split")
    }),

    // J14 (r10, VERDICT r9 #5): per-domain document caps — the
    // Gopher/FineWeb curation step that bounds any one source's share
    // BEFORE mixing (a single crawl domain can otherwise dominate a
    // training mix). Deterministic bottom-CAP by md5(doc_id) per
    // source — the J12 bottom-k-by-hash draw, so the cap is
    // layout-independent, reproducible cross-engine, and MERGEABLE:
    // capping a union == capping the concatenation of per-shard caps
    // (CorpusSpec pins it), which is what lets daily shards compose
    // into a capped corpus without re-reading history. Per-key window
    // top-n (local per-key sort, never global); at 100 TB the
    // mergeable property IS the scale plan — per-partition partial
    // caps feed a final per-domain cap of ≤ shards·CAP rows.
    "corpus_domain_cap" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("h", "doc_id")
      Tables.load(s, dir, "documents")
        .withColumn("h", md5(col("doc_id").cast("string")))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 10)
        .select(col("source"), col("rk"), col("doc_id"), col("h"))
        .orderBy("source", "rk")
    }),

    // J14's over-cap drop accounting — what a curation run reports:
    // per source, how many documents existed, survived the cap, and
    // were dropped. One hash-agg; the kept count is least(cap, n)
    // because the draw keeps a deterministic subset, never invents
    // rows.
    "corpus_domain_cap_stats" -> ((s, dir) =>
      Tables.load(s, dir, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          least(count(lit(1)), lit(10L)).as("n_kept"),
          greatest(count(lit(1)) - lit(10L), lit(0L)).as("n_dropped"))
        .orderBy("source"))
  )

  /** corpus_stats_approx runs the exact percentiles AND the bounded
    * sketch in one aggregate — verification cost, suffix-less. */
  override val checks: Set[String] = Set("corpus_stats_approx")

  /** The ONE seeded spot-check draw both the sample entry and its
    * shape check run (n/seed must agree or the check checks nothing). */
  private def randSample(s: org.apache.spark.sql.SparkSession, dir: String) =
    PipelineOps.sampleRand(
      Tables.load(s, dir, "documents").select("doc_id", "source"),
      n = 20, seed = 7L)

  /** J3's cluster map (doc_id, cluster_id), staged once per JVM —
    * shared by dedup_survivors and the planted cluster/survivor
    * checks. */
  private def stagedClusters(s: org.apache.spark.sql.SparkSession,
                             dir: String): org.apache.spark.sql.DataFrame =
    s.read.parquet(Staging.once("clusters", dir) { p =>
      PipelineOps.dedupClusters(
          Dedup.jaccardPairs(Tables.load(s, dir, "documents"),
            "doc_id", "text", n = 3, tau = 0.5, dfCap = 1000L))
        .write.mode("overwrite").parquet(p)
    })

  private val normSql =
    """regexp_replace(trim(lower(text)), '\s+', ' ', 'g')"""

  // the planted-pair capped Jaccard as a reusable CTE body (`pj(i,
  // jj, jac)`) — the SketchQueries.plantedJaccardCte twin, kept local
  // because each pack's oracle strings must stay self-contained
  private val plantedPairCte =
    s"""WITH t AS (SELECT doc_id, string_split($normSql, ' ') AS arr FROM documents),
       sh AS (SELECT DISTINCT doc_id, arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS tok
              FROM t, unnest(range(1, len(arr) - 1)) AS r(i)
              WHERE len(arr) >= 3),
       idx AS (SELECT doc_id, tok FROM sh
               QUALIFY count(*) OVER (PARTITION BY tok) <= 1000),
       sizes AS (SELECT doc_id, count(*) AS sz FROM idx GROUP BY doc_id),
       inter AS (SELECT a.doc_id AS i, count(*) AS inter
                 FROM idx a JOIN idx b
                   ON b.doc_id = a.doc_id + 500000000 AND a.tok = b.tok
                 GROUP BY 1),
       pj AS (SELECT i, i + 500000000 AS jj,
                     inter * 1.0 / (sa.sz + sb.sz - inter) AS jac
              FROM inter
              JOIN sizes sa ON sa.doc_id = i
              JOIN sizes sb ON sb.doc_id = i + 500000000)"""

  // shared candidate-pair SQL (identical to dedup_ngram_jaccard's)
  private val pairSql =
    s"""WITH t AS (SELECT doc_id, string_split($normSql, ' ') AS arr FROM documents),
        sh AS (SELECT DISTINCT doc_id, arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS tok
               FROM t, unnest(range(1, len(arr) - 1)) AS r(i)
               WHERE len(arr) >= 3),
        idx AS (SELECT doc_id, tok FROM sh
                QUALIFY count(*) OVER (PARTITION BY tok) <= 1000),
        sizes AS (SELECT doc_id, count(*) AS sz FROM idx GROUP BY doc_id),
        pr AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter
               FROM idx a JOIN idx b USING (tok)
               WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        pairs AS (SELECT i, j FROM pr
                  JOIN sizes sa ON pr.i = sa.doc_id
                  JOIN sizes sb ON pr.j = sb.doc_id
                  WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.5)"""

  val oracles: Map[String, String] = Map(
    // e-notation literals force DOUBLE (DuckDB decimals would diverge
    // from Spark's double arithmetic); operation order matches the
    // Spark expression left-to-right so the ppm freeze is identical
    "sample_temperature" ->
      """WITH c AS (SELECT lang, count(*) AS c FROM documents GROUP BY 1),
           t AS (SELECT sum(c) AS n, sum(pow(c, 0.5e0)) AS z FROM c),
           r AS (SELECT lang,
                        CAST(floor(least(1.0e0, pow(c, 0.5e0) / z * n * 0.5e0 / c)
                             * 1000000) AS BIGINT) AS rate_ppm
                 FROM c, t)
         SELECT d.doc_id, d.lang, r.rate_ppm
         FROM documents d JOIN r USING (lang)
         WHERE ('0x' || substr(md5(coalesce(CAST(d.doc_id AS VARCHAR), '')), 1, 8))::BIGINT
                 % 1000000 < r.rate_ppm
         ORDER BY d.doc_id""",
    "corpus_domain_cap" ->
      """SELECT source, rk, doc_id, h FROM (
           SELECT source, doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
                  row_number() OVER (PARTITION BY source
                                     ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
           FROM documents)
         WHERE rk <= 10 ORDER BY source, rk""",
    "corpus_domain_cap_stats" ->
      """SELECT source, count(*) AS n_docs,
                least(count(*), 10) AS n_kept,
                greatest(count(*) - 10, 0) AS n_dropped
         FROM documents GROUP BY source ORDER BY source""",
    "sample_bottomk" ->
      """SELECT lang, rk, doc_id, h FROM (
           SELECT lang, doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
                  row_number() OVER (PARTITION BY lang
                                     ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
           FROM documents)
         WHERE rk <= 3 ORDER BY lang, rk""",
    "dedup_spans_incremental_check" ->
      """SELECT count(*) AS n_docs, true AS kept_le_exact, true AS fp_ok
         FROM documents WHERE text IS NOT NULL AND doc_id % 3 = 0""",
    "dedup_spans" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
                    FROM documents WHERE text IS NOT NULL),
         s AS (SELECT doc_id, k.idx AS idx,
                      array_to_string(toks[(k.idx*3+1):(k.idx*3+3)], ' ') AS span
               FROM d, LATERAL unnest(generate_series(0,
                 CAST(ceil(len(toks)/3.0) AS BIGINT) - 1)) AS k(idx)),
         c AS (SELECT *, row_number() OVER
                 (PARTITION BY span ORDER BY doc_id, idx) AS rn FROM s),
         k AS (SELECT doc_id, idx, span FROM c WHERE rn = 1),
         a AS (SELECT doc_id, count(*) AS n_kept,
                      md5(coalesce(string_agg(span, ' ' ORDER BY idx), ''))
                        AS clean_md5
               FROM k GROUP BY doc_id)
         SELECT d.doc_id,
                CAST(ceil(len(d.toks)/3.0) AS BIGINT) AS n_spans,
                coalesce(a.n_kept, 0) AS n_kept,
                coalesce(a.clean_md5, md5('')) AS clean_md5
         FROM d LEFT JOIN a USING (doc_id) ORDER BY doc_id""",
    "sample_rand_check" ->
      """SELECT least(20, count(*)) AS n_rows,
                CAST(0 AS BIGINT) AS not_in_source
         FROM documents""",
    "corpus_stratified_split" ->
      """WITH r AS (SELECT source,
                row_number() OVER (PARTITION BY source
                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
                count(*) OVER (PARTITION BY source) AS n_s
             FROM documents),
           a AS (SELECT source, n_s,
                CASE WHEN rn <= floor(n_s * 80 / 100.0) THEN 'train'
                     WHEN rn <= floor(n_s * 90 / 100.0) THEN 'val'
                     ELSE 'test' END AS split FROM r)
         SELECT source, split, count(*) AS n_docs,
                CAST(max(n_s) AS BIGINT) AS n_stratum
         FROM a GROUP BY source, split ORDER BY source, split""",
    "split_assign" ->
      """SELECT CASE WHEN ('0x' || substr(md5(coalesce(text, '')), 1, 8))::BIGINT % 100 < 80 THEN 'train'
                     WHEN ('0x' || substr(md5(coalesce(text, '')), 1, 8))::BIGINT % 100 < 90 THEN 'val'
                     ELSE 'test' END AS split,
                lang, count(*) AS n_docs
         FROM documents GROUP BY 1, 2 ORDER BY split, lang""",
    "corpus_url_dedup" ->
      """WITH u AS (SELECT doc_id,
               concat(
                 CASE doc_id % 3 WHEN 0 THEN 'http://'
                                 WHEN 1 THEN 'https://'
                                 ELSE 'HTTPS://www.' END,
                 CASE WHEN doc_id % 2 = 0 THEN upper(coalesce(source, ''))
                      ELSE coalesce(source, '') END,
                 '.example.com/docs/', coalesce(lang, ''), '/',
                 CAST(doc_id % 50 AS VARCHAR),
                 CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END,
                 CASE WHEN doc_id % 5 = 0 THEN '?utm_source=feed&ref=rss'
                      ELSE '' END,
                 CASE WHEN doc_id % 7 = 0 THEN '#section-2' ELSE '' END)
               AS url FROM documents),
           c AS (SELECT doc_id,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(lower(trim(url)), '^https?://', ''),
                       '^www\.', ''),
                     '#.*$', ''),
                   '\?.*$', ''),
                 '/+$', '') AS canonical_url FROM u)
         SELECT canonical_url, min(doc_id) AS keep_doc_id,
                count(*) AS dup_count
         FROM c GROUP BY canonical_url ORDER BY canonical_url""",
    "decontaminate" ->
      s"""WITH t AS (SELECT doc_id, source = 'src0' AS is_eval,
                            string_split($normSql, ' ') AS arr FROM documents),
          sh AS (SELECT DISTINCT doc_id, is_eval,
                        arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] || ' ' || arr[i+3] || ' ' || arr[i+4] AS tok
                 FROM t, unnest(range(1, len(arr) - 3)) AS r(i)
                 WHERE len(arr) >= 5),
          toks AS (SELECT tok,
                          count(DISTINCT CASE WHEN is_eval THEN doc_id END) AS n_eval,
                          count(DISTINCT CASE WHEN NOT is_eval THEN doc_id END) AS n_train
                   FROM sh GROUP BY tok),
          hot AS (SELECT tok FROM toks
                  WHERE n_eval > 0 AND n_train > 0 AND n_eval + n_train <= 1000)
          SELECT doc_id, count(DISTINCT tok) AS n_shared
          FROM sh JOIN hot USING (tok)
          WHERE NOT is_eval
          GROUP BY doc_id HAVING count(DISTINCT tok) >= 3
          ORDER BY doc_id""",
    "sample_mix" ->
      """SELECT source, count(*) AS n_kept FROM documents
         WHERE ('0x' || substr(md5(coalesce(CAST(doc_id AS VARCHAR), '')), 1, 8))::BIGINT % 100 <
               CASE WHEN source = 'src0' THEN 100
                    WHEN source IN ('src1','src2') THEN 60
                    ELSE 25 END
         GROUP BY source ORDER BY source""",
    "pack_sequences" ->
      """WITH t AS (SELECT doc_id, source,
                           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpe
                    FROM documents),
          c AS (SELECT doc_id, source, n_bpe,
                       sum(n_bpe) OVER (PARTITION BY source ORDER BY doc_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         - n_bpe AS strt
                FROM t)
          SELECT doc_id, source, CAST(n_bpe AS BIGINT) AS n_bpe,
                 CAST(strt // 512 AS BIGINT) AS seq_id,
                 CAST(strt % 512 AS BIGINT) AS seq_offset
          FROM c ORDER BY doc_id""",
    "corpus_stats_approx" ->
      """SELECT lang, true AS a50_ok, true AS a95_ok
         FROM documents GROUP BY lang ORDER BY lang""",
    "corpus_stats" ->
      s"""SELECT lang, count(*) AS n_docs,
                 CAST(sum(len(string_split($normSql, ' '))) AS BIGINT) AS total_tokens,
                 round(quantile_cont(len(string_split($normSql, ' ')), 0.5), 4) AS p50_toks,
                 round(quantile_cont(len(string_split($normSql, ' ')), 0.95), 4) AS p95_toks
          FROM documents GROUP BY lang ORDER BY lang""",
    "corpus_curate" ->
      s"""WITH q AS (SELECT *, string_split($normSql, ' ') AS toks FROM documents),
          f AS (SELECT * FROM q
                WHERE least(len(toks) / 100.0, 1.0) *
                      (1.0 - len(list_filter(toks, x -> x IN ('the','a'))) * 1.0 / len(toks)) >= 0.3),
          d AS (SELECT * FROM f
                QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1),
          s AS (SELECT *, CASE WHEN ('0x' || substr(md5(coalesce(text, '')), 1, 8))::BIGINT % 100 < 80 THEN 'train'
                               WHEN ('0x' || substr(md5(coalesce(text, '')), 1, 8))::BIGINT % 100 < 90 THEN 'val'
                               ELSE 'test' END AS split FROM d)
          SELECT split, count(*) AS n_docs, round(avg(length(text)), 4) AS avg_chars
          FROM s GROUP BY split ORDER BY split""",
    "dedup_clusters" ->
      s"""$pairSql,
          edges AS (SELECT i AS a, j AS b FROM pairs
                    UNION ALL SELECT j, i FROM pairs),
          reach AS (
            WITH RECURSIVE r(n, m) AS (
              SELECT a, a FROM edges
              UNION
              SELECT r.n, e.b FROM r JOIN edges e ON r.m = e.a)
            SELECT * FROM r)
          SELECT n AS doc_id, min(m) AS cluster_id
          FROM reach GROUP BY n ORDER BY doc_id""",
    "dedup_survivors" ->
      s"""$pairSql,
          edges AS (SELECT i AS a, j AS b FROM pairs
                    UNION ALL SELECT j, i FROM pairs),
          reach AS (
            WITH RECURSIVE r(n, m) AS (
              SELECT a, a FROM edges
              UNION
              SELECT r.n, e.b FROM r JOIN edges e ON r.m = e.a)
            SELECT * FROM r),
          drop AS (SELECT n AS doc_id FROM reach
                   GROUP BY n HAVING n <> min(m))
          SELECT doc_id, lang, source FROM documents
          WHERE doc_id NOT IN (SELECT doc_id FROM drop)
          ORDER BY doc_id""",
    // LINEAR planted recomputes (id-mapped join at +5e8 — the
    // 100×-feasible form; the co-cluster / single-survivor verdicts
    // are literal expectations that only hash-match when they hold)
    "dedup_clusters_planted_check" ->
      s"""$plantedPairCte
          SELECT count(*) AS planted_pairs, true AS all_co_clustered
          FROM pj WHERE jac >= 0.5e0""",
    "dedup_survivors_planted_check" ->
      s"""$plantedPairCte
          SELECT count(*) AS planted_pairs,
                 CAST(0 AS BIGINT) AS both_survive, true AS dedup_ok
          FROM pj WHERE jac >= 0.5e0""",
    "decontaminate_planted_check" ->
      s"""WITH t AS (SELECT doc_id, source = 'src0' AS is_eval,
                            string_split($normSql, ' ') AS arr FROM documents),
          sh AS (SELECT DISTINCT doc_id, is_eval,
                        arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] || ' ' || arr[i+3] || ' ' || arr[i+4] AS tok
                 FROM t, unnest(range(1, len(arr) - 3)) AS r(i)
                 WHERE len(arr) >= 5),
          toks AS (SELECT tok,
                          count(CASE WHEN is_eval THEN 1 END) AS n_eval,
                          count(CASE WHEN NOT is_eval THEN 1 END) AS n_train
                   FROM sh GROUP BY tok),
          kept AS (SELECT tok FROM toks
                   WHERE n_eval > 0 AND n_train > 0 AND n_eval + n_train <= 1000),
          ks AS (SELECT doc_id, is_eval, tok FROM sh JOIN kept USING (tok)),
          truth AS (SELECT b.doc_id FROM ks a
                    JOIN ks b ON b.doc_id = a.doc_id + 500000000
                            AND b.tok = a.tok
                    WHERE a.is_eval AND NOT b.is_eval
                    GROUP BY b.doc_id HAVING count(*) >= 3)
          SELECT count(*) AS planted_contam, true AS all_flagged FROM truth"""
  )

}
