package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Dedup, Sketches, Similarity}

/** SURVEY §2.D3/D4/E2/E3 — hash-sketch dedup and approximate
  * similarity search. The signatures (xxhash64-based) are not
  * expressible in DuckDB SQL, so the raw operators are rows-only
  * driver entries; their quality invariants (lossless hamming bands,
  * recall vs the exact baselines) are asserted in SketchSpec on
  * sf0.001 — AND the `*_check` entries below turn the subset/recall
  * contracts into ORACLE-CHECKED rows: Spark computes the violation
  * count and recall verdict against the exact baseline, DuckDB
  * computes the exact baseline's cardinality plus the literal
  * expectations (0 violations, recall over threshold), and the
  * driver's hash compare fails iff the contract is broken. */
object SketchQueries extends QueryPack {

  val queries: Map[String, Q] = Map(
    // D3: MinHash (k=16) + 4-band LSH candidates, verified on the
    // full signature (estimated Jaccard ≥ 0.5).
    "dedup_minhash_lsh" -> ((s, dir) =>
      Sketches.minhashLsh(Tables.load(s, dir, "documents"), "doc_id", "text")
        .orderBy("i", "j")),

    // D4: 64-bit SimHash, 16-bit hamming bands (lossless ≤ 3),
    // exact popcount verification.
    "dedup_simhash" -> ((s, dir) =>
      Sketches.simhashPairs(Tables.load(s, dir, "documents"), "doc_id", "text")
        .orderBy("i", "j")),

    // D7: incremental dedup — the daily-ingest shape (new batch =
    // every 10th doc, history = the rest): which new docs near-dup
    // something already in the corpus. Candidates are the cross
    // band-key join only (cost ∝ batch, not corpus²).
    "dedup_incremental" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Sketches.minhashLshAgainst(
          docs.filter(col("doc_id") % 10 === 0),
          docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text")
        .orderBy("i", "j")
    }),

    // D7 contract check: recall vs the exact capped-Jaccard pair set
    // RESTRICTED to batch↔history pairs (same ground truth as the D3
    // check, same 0.7 floor — the estimator is identical; orientation
    // normalized to i = the batch doc on both sides).
    "dedup_incremental_check" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val inc = Sketches.minhashLshAgainst(
        docs.filter(col("doc_id") % 10 === 0),
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text")
      val exactCross = exactJaccard(s, dir)
        .filter((col("i") % 10 === 0) =!= (col("j") % 10 === 0))
        .select(
          when(col("i") % 10 === 0, col("i")).otherwise(col("j")).as("i"),
          when(col("i") % 10 === 0, col("j")).otherwise(col("i")).as("j"))
      recallRow(inc, exactCross, minRecall = 0.7)
    }),

    // E2: random-hyperplane LSH ANN, auto-scaled tables × bits with
    // cost-based fallback (small query batches score exactly — less
    // work than hashing, recall 1.0), top-10.
    "sim_lsh_ann" -> ((s, dir) =>
      Similarity.lshTopK(Tables.load(s, dir, "embeddings"), "vec_id", "embedding")
        .orderBy("q_id", "rk")),

    // E3: IVF ANN, √n centroids / auto fit sample, nprobe=6, top-10.
    "sim_ivf_ann" -> ((s, dir) =>
      Similarity.ivfTopK(Tables.load(s, dir, "embeddings"), "vec_id", "embedding")
        .orderBy("q_id", "rk")),

    // E9 (r11): FILTERED ANN — IVF search restricted to the query's
    // own label ("top-k within a category", the metadata-predicate
    // vector search every store needs; post-filter starvation is
    // countered by the operator's 4× probe widening —
    // Similarity.ivfTopK filterCol scaladoc). Rows-only (the centroid
    // model is not SQL-expressible); the _check twin is the oracle
    // surface.
    "sim_filtered_ann" -> ((s, dir) =>
      Similarity.ivfTopK(Tables.load(s, dir, "embeddings"),
          "vec_id", "embedding", filterCol = Some("label"))
        .orderBy("q_id", "rk")),

    // E9 contract check: recall vs the exact SAME-LABEL brute-force
    // baseline plus the every-hit-exactly-scored invariant. The
    // no-cross-label guarantee itself is structural (the candidate
    // join carries q_label === label) and spec-pinned in
    // SketchSpec's filtered-ANN fixture; here a cross-label row
    // could only depress recall, never inflate it.
    "sim_filtered_ann_check" -> ((s, dir) => annCheck(s, dir,
      emb => Similarity.ivfTopK(emb, "vec_id", "embedding",
        nCentroids = Some(16), fitSamplePct = Some(10),
        filterCol = Some("label")),
      minRecall = 0.5,
      exactBaseline = Some(exactFilteredTopk(s, dir)))),

    // E10 (r12): IVF-PQ — product-quantized candidate scoring under
    // the IVF coarse partitioner, exact shortlist re-rank (VERDICT
    // r11 #4; Similarity.ivfPqTopK scaladoc for the ~32× candidate
    // payload shrink that is the 100-TB memory posture). Rows-only
    // (two fitted quantizer models); the _check twin is the oracle
    // surface.
    "sim_ivfpq" -> ((s, dir) =>
      Similarity.ivfPqTopK(Tables.load(s, dir, "embeddings"),
          "vec_id", "embedding")
        .orderBy("q_id", "rk")),

    // E10 contract check: recall ≥ 0.8 vs the exact unfiltered
    // baseline at a PINNED configuration (the sim_ivf_ann_check
    // stance: the check verifies PQ mechanics at a known operating
    // point — 16 coarse cells ALL probed, 8×256 codebooks).
    // Exhaustive coarse probing on purpose: the driver corpora are
    // near-uniform unit vectors, where probing recall tracks probed
    // mass for ANY partitioner (the sim_ivf_ann_check finding) —
    // probing recall under real cluster structure is the planted
    // twin's contract; THIS check isolates the PQ encode→ADC→
    // shortlist→refine mechanics. The shortlist is a pinned POOL
    // FRACTION (2%, floor 40 — refineFactor = max(4, n/500) with
    // k=10), not a fixed row count: ADC confusions above a true
    // neighbor scale with the candidate pool
    // on unclustered data, so a fixed 40-row shortlist states a
    // different (and eventually false — 10× sweep finding) claim at
    // every n, while "true top-10 rank inside the ADC top 2%" is
    // the n-invariant precision statement. Measured (numpy replica):
    // recall 0.96/1.0 at sf0.001/sf0.1 with 8×256 books at the 2%
    // floor (16-codeword books sat at 0.68 — the published 256 is
    // load-bearing), 0.917 at the 10× pack's 20k vectors with the 2%
    // shortlist (a fixed 40 rows there measured <0.8 — the 10× sweep
    // finding that motivated the fraction form). The refine stage
    // exactly-scores every returned hit, so the cosine-binding hit
    // join also verifies the re-rank protocol.
    "sim_ivfpq_check" -> ((s, dir) => annCheck(s, dir,
      emb => {
        val rf = math.max(4, (emb.count() / 500L).toInt) // k=10 → 2% pool
        Similarity.ivfPqTopK(emb, "vec_id", "embedding",
          nCoarse = Some(16), nprobe = Some(16), fitSamplePct = Some(10),
          refineFactor = rf)
      },
      minRecall = 0.8)),

    // E10 planted 100× contract (VERDICT r11 #4's actual criterion):
    // ANN-benchmark recall of the DEFAULT-config IVF-PQ path over
    // planted near-dup pairs whose ORIGINAL is a query (vec_id % 100
    // = 0) — on the --plant-dups pack the copy sits at cos [0.93,
    // 0.98], far above the random-cosine noise (σ≈0.125), so it IS
    // the query's true #1 neighbor and a retrieval miss is a real
    // coarse-probe or PQ-shortlist failure. Linear id-mapped oracle
    // (the dedup_embedding_lsh_planted_check methodology); vacuously
    // green on unplanted packs (exact_pairs = 0, shown honestly).
    "sim_ivfpq_planted_check" -> ((s, dir) => {
      val got = Similarity.ivfPqTopK(Tables.load(s, dir, "embeddings"),
          "vec_id", "embedding")
        .select(col("q_id").as("i"), col("vec_id").as("j"))
      recallRow(got, plantedAnnPairs(s, dir), minRecall = 0.8)
    }),

    // E3/E2 planted twins (r13 — VERDICT r12 #7, the sim_ivfpq
    // precedent extended): the unplanted _check twins bind recall to
    // the exact brute-force baseline, which is |queries|·n scoring —
    // infeasible at the 100× pack's 1M vectors. The planted pack's
    // jittered near-copies (cosine ≥ 0.9, far above the σ≈0.125
    // noise) give a LINEAR id-mapped ground truth: a retrieval miss
    // is a real coarse-probe (IVF) or bucket-collision (LSH)
    // failure. Floors match each family's mechanism: IVF 0.8 (the
    // IVF-PQ floor without the PQ loss), LSH 0.7 (the D6
    // embedding-LSH planted floor — band collision is probabilistic).
    // Vacuously green on unplanted packs (exact_pairs = 0, honest).
    "sim_ivf_ann_planted_check" -> ((s, dir) => {
      val got = Similarity.ivfTopK(Tables.load(s, dir, "embeddings"),
          "vec_id", "embedding")
        .select(col("q_id").as("i"), col("vec_id").as("j"))
      recallRow(got, plantedAnnPairs(s, dir), minRecall = 0.8)
    }),
    "sim_lsh_ann_planted_check" -> ((s, dir) => {
      val got = Similarity.lshTopK(Tables.load(s, dir, "embeddings"),
          "vec_id", "embedding")
        .select(col("q_id").as("i"), col("vec_id").as("j"))
      recallRow(got, plantedAnnPairs(s, dir), minRecall = 0.7)
    }),

    // E9 planted twin (r15 — VERDICT r14 #3, the last ANN entry whose
    // 100× evidence was only the unplanted sf0.1 check): the planted
    // copy inherits its original's LABEL (scale_up --plant-dups keeps
    // all_labels[pick]), so under the label predicate the copy is
    // still the query's true #1 same-label neighbor — a miss is a
    // real coarse-probe failure of the label-filtered path, not
    // starvation. Same id-mapped linear truth as E2/E3/E10; IVF's 0.8
    // floor (the filter narrows the candidate pool, never the probe
    // mechanics — probe widening is 4× under filterCol). Vacuously
    // green on unplanted packs (exact_pairs = 0, shown honestly).
    "sim_filtered_ann_planted_check" -> ((s, dir) => {
      val got = Similarity.ivfTopK(Tables.load(s, dir, "embeddings"),
          "vec_id", "embedding", filterCol = Some("label"))
        .select(col("q_id").as("i"), col("vec_id").as("j"))
      recallRow(got, plantedAnnPairs(s, dir), minRecall = 0.8)
    }),

    // D5-at-scale: embedding near-dup pairs via LSH candidates + exact
    // cosine verify — the scalable twin of dedup_embedding (every
    // returned pair is exactly-scored; SketchSpec pins precision 1.0
    // and recall vs the all-pairs baseline). In auto mode the
    // cost-based selection runs the exact plan when LSH would be
    // saturated (small corpora — the case at these SFs).
    "dedup_embedding_lsh" -> ((s, dir) =>
      Dedup.embeddingPairsLsh(Tables.load(s, dir, "embeddings"),
          "vec_id", "embedding", tau = 0.4)
        .orderBy("i", "j")),

    // D16 (r8): SemDeDup — the published semantic-dedup pipeline
    // (cluster embeddings, prune near-dups within clusters). Rows-only
    // (k-means centroids are iterative float state no SQL engine
    // recomputes); the oracle-checked contract lives in
    // dedup_semantic_check.
    "dedup_semantic" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      graft.operators.Dedup.semanticPairs(emb, "vec_id", "embedding",
          tau = 0.4, k = graft.operators.Similarity.autoCentroids(
            emb.count()))
        .orderBy("i", "j")
    }),

    // D16 contract check (oracle-backed, same planted-pair methodology
    // as the D6 planted check): recall of the SemDeDup path over
    // PLANTED near-dups at τ=0.9. SemDeDup's regime is REAL
    // near-duplicates (cos ≥ ~0.9 jittered copies, which co-cluster
    // under any reasonable k-means) — the driver corpora's τ=0.4 pair
    // set is the random-cosine noise tail, where borderline pairs
    // straddle cluster boundaries by construction and NO
    // cluster-based method can recall them (that regime belongs to
    // D6's banded LSH). On unplanted corpora the ground truth is
    // empty and the verdict row shows the trivial regime honestly.
    "dedup_semantic_check" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val v = emb.select(col("vec_id"),
          graft.functions.VectorFunctions.asDouble(col("embedding")).as("v"))
        .withColumn("nrm", graft.functions.VectorFunctions.l2(col("v")))
      val planted = v.as("a")
        .join(v.as("b"), col("b.vec_id") === col("a.vec_id") + lit(500000000L))
        .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"),
          graft.functions.VectorFunctions.cosinePre(
            graft.functions.VectorFunctions.dot(col("a.v"), col("b.v")),
            col("a.nrm"), col("b.nrm")).as("cosine"))
        .filter(col("cosine") >= 0.9)
      val sem = graft.operators.Dedup.semanticPairs(emb, "vec_id",
        "embedding", tau = 0.9,
        k = graft.operators.Similarity.autoCentroids(emb.count()))
      recallRow(sem, planted, minRecall = 0.8)
    }),

    // D6 contract check (oracle-backed): every LSH pair must appear in
    // the exact all-pairs baseline with the SAME exact cosine
    // (precision 1.0 — bad_pairs 0), and recall ≥ 0.8. DuckDB derives
    // exact_pairs from the data; bad_pairs/recall_ok are literal
    // expectations that only hash-match when the contract holds.
    "dedup_embedding_lsh_check" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      // pinned operating point FORCES the LSH plan — in auto mode the
      // cost-based selection would fall back to the exact baseline at
      // small corpora, making this check compare exact to exact
      val lsh = Dedup.embeddingPairsLsh(emb, "vec_id", "embedding", tau = 0.4,
        tables = Some(16), bits = Some(4))
      val exact = exactEmbeddingPairs(s, dir) // staged once per JVM
      checkRow(
        bad = lsh.join(exact, Seq("i", "j", "cosine"), "left_anti"),
        got = lsh, want = exact, minRecall = 0.8, exactCountCol = "exact_pairs")
    }),

    // D6 contract at 100×-scale packs (ANN-benchmark methodology):
    // recall of the LSH dedup path over PLANTED near-dup pairs at
    // τ=0.9. The driver corpora have no separated near-dup structure —
    // their τ=0.4 pair set is the tail of the random-cosine
    // distribution (64 dims: ~5e-4 of ALL pairs cross 0.4), so at 100×
    // the exact set is ~1e7 borderline noise pairs and an all-pairs
    // oracle is 2e10 dot products. tools/scale_up.py --plant-dups
    // appends jittered copies (cos ∈ [0.93, 0.98]) at vec_id =
    // orig + 5e8, giving LINEAR id-mapped ground truth with a ~zero
    // noise floor at τ=0.9 (P(noise ≥ 0.9) ≈ 3e-13/pair; an all-pairs
    // slice measures zero non-planted pairs ≥ 0.7). On unplanted
    // corpora the ground truth is empty and the verdict row shows the
    // trivial regime (exact_pairs = 0) honestly.
    "dedup_embedding_lsh_planted_check" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val v = emb.select(col("vec_id"),
          graft.functions.VectorFunctions.asDouble(col("embedding")).as("v"))
        .withColumn("nrm", graft.functions.VectorFunctions.l2(col("v")))
      val planted = v.as("a")
        .join(v.as("b"), col("b.vec_id") === col("a.vec_id") + lit(500000000L))
        .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"),
          graft.functions.VectorFunctions.cosinePre(
            graft.functions.VectorFunctions.dot(col("a.v"), col("b.v")),
            col("a.nrm"), col("b.nrm")).as("cosine"))
        .filter(col("cosine") >= 0.9)
      val lsh = Dedup.embeddingPairsLsh(emb, "vec_id", "embedding", tau = 0.9)
      recallRow(lsh, planted, minRecall = 0.8)
    }),

    // E2 contract check: recall@10 of the LSH ANN vs the exact
    // brute-force top-k under the identical ranking protocol; every
    // approx row must also BE an exact-scored (q_id, vec_id, cosine)
    // the baseline agrees with when it ranks that neighbor.
    // forceLsh (not pinned knobs) defeats the small-batch exact
    // fallback: the check then exercises the AUTO operating point at
    // every corpus size — the r7-pinned (16 tables, 4 bits) went
    // degenerate at 100× (12.5k-vec buckets, all over maxBucket).
    "sim_lsh_ann_check" -> ((s, dir) => annCheck(s, dir,
      emb => Similarity.lshTopK(emb, "vec_id", "embedding",
        forceLsh = true),
      minRecall = 0.6)),

    // D3 contract check: MinHash-LSH recall vs the EXACT Jaccard pair
    // set (which IS SQL-expressible — the dedup_ngram_jaccard oracle)
    // under the same shingling and df cap. Measured 0.96 (sf0.01) /
    // 1.0 (sf0.1); threshold 0.7 — the MinHash estimate at k=16 can
    // drop borderline-τ pairs, which is the sketch's documented error,
    // not a bug. No precision leg: sig_sim ≥ τ candidates legitimately
    // include estimator false positives.
    "dedup_minhash_lsh_check" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val mh = Sketches.minhashLsh(docs, "doc_id", "text")
      recallRow(mh, exactJaccard(s, dir), minRecall = 0.7)
    }),

    // D4 contract check: SimHash hamming-band pairs vs the same exact
    // Jaccard set. Hamming ≤ 3 on a 64-bit sketch is a TIGHTER
    // near-dup notion than Jaccard ≥ 0.5, so recall is structurally
    // partial (measured 0.60 / 0.74); the 0.4 floor catches the
    // sketch breaking, not estimator noise.
    "dedup_simhash_check" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val sh = Sketches.simhashPairs(docs, "doc_id", "text")
      recallRow(sh, exactJaccard(s, dir), minRecall = 0.4)
    }),

    // D3 contract at 100×-scale packs (r11, VERDICT r10 #1): MinHash-
    // LSH recall over PLANTED near-dup pairs whose exact capped
    // Jaccard ≥ 0.7 — the same estimator regime and 0.7 floor as
    // dedup_minhash_lsh_check, with a LINEAR id-mapped ground truth
    // instead of the quadratic exact pair set (infeasible for the
    // DuckDB oracle at 500k docs). Unplanted corpora → empty truth,
    // trivial regime shown honestly.
    "dedup_minhash_planted_check" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      recallRow(Sketches.minhashLsh(docs, "doc_id", "text"),
        Planted.ngramTruth(docs, n = 3, tau = 0.7, dfCap = 1000L),
        minRecall = 0.7)
    }),

    // D4 contract at 100×-scale packs: SimHash recall over the LIGHT
    // plant tier (id % 50 = 23 — at most ONE token mutated, the pack
    // contract) — single-token edits are exactly the hamming ≤ 3
    // detection class the 16-bit banding is lossless for. The heavy
    // tier (J ~0.8, ~15% of shingles changed) sits OUTSIDE SimHash's
    // radius by design — that regime belongs to MinHash — so the
    // truth is tier-selected, not Jaccard-selected. Floor 0.7: a
    // 1-token edit flips ~2 of 64 bits in expectation, but a short
    // doc's single edit can move more (measured ≥ 0.9 at every
    // planted scale point).
    "dedup_simhash_planted_check" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      recallRow(Sketches.simhashPairs(docs, "doc_id", "text"),
        Planted.tierPairs(docs, sel = 23),
        minRecall = 0.7)
    }),

    // D7 contract at 100×-scale packs (r13 — the last dedup family
    // with no 100× evidence): the INCREMENTAL batch↔history path
    // over the planted pack, batch = the planted copies (id ≥ Off
    // inside the replica block), history = everything else. The
    // plant convention puts every copy at orig + Off, so the J ≥ 0.7
    // truth pairs are EXACTLY batch↔history pairs — the same linear
    // id-mapped ground truth as dedup_minhash_planted_check, on the
    // same estimator (shared seeds/banding by construction), same
    // 0.7 floor. Orientation: the operator returns i = batch (plant);
    // the truth is (orig, plant) — flipped here. Vacuously green on
    // unplanted packs (batch empty, exact_pairs = 0, honest).
    "dedup_incremental_planted_check" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val isPlant =
        pmod(col("doc_id"), lit(1000000000L)) >= lit(Planted.Off)
      val inc = Sketches.minhashLshAgainst(
        docs.filter(isPlant), docs.filter(!isPlant), "doc_id", "text")
      recallRow(inc.select(col("j").as("i"), col("i").as("j")),
        Planted.ngramTruth(docs, n = 3, tau = 0.7, dfCap = 1000L),
        minRecall = 0.7)
    }),

    // E3 contract check: IVF ANN recall@10 vs the same baseline, at a
    // PINNED operating point (16 centroids, nprobe 6 ⇒ 37% probed).
    // The √n default trades probe fraction for corpus growth, and on
    // an unclustered corpus recall tracks the probed fraction — a
    // corpus-adaptive default inside a fixed-threshold oracle check
    // would fail at whatever SF pushes recall past the line (review
    // finding: 0.46 at sf0.1 under autoCentroids). The check verifies
    // the IVF mechanics' contract at a known configuration; SketchSpec
    // separately pins the default path's recall floor on sf0.001.
    "sim_ivf_ann_check" -> ((s, dir) => annCheck(s, dir,
      emb => Similarity.ivfTopK(emb, "vec_id", "embedding",
        nCentroids = Some(16), fitSamplePct = Some(10)),
      minRecall = 0.5)),

    // E6 contract check: the PERSISTED index (build → parquet → load →
    // partition-pruned search) must return EXACTLY what the in-memory
    // search computes FROM THE SAME LOADED MODEL — any drift
    // (serialization, norm recompute, pruning losing a partition)
    // shows as a non-zero diff. Both sides share idx.centroids on
    // purpose: a refit's avg() is not bitwise-reproducible across
    // runs, so comparing against Similarity.ivfTopK would flake on
    // ulp-level centroid drift. Index built once per JVM (the
    // staged-dir pattern); the timed work is load + disk search +
    // in-memory search + compare.
    "sim_ivf_index_check" -> ((s, dir) => {
      val vecs = Tables.load(s, dir, "embeddings")
      val idx = graft.operators.IvfIndex.load(s, stagedIndex(s, dir))
      val queries = vecs.filter(col("vec_id") % 100 === 0)
      val fromDisk = graft.operators.IvfIndex.search(s, idx, queries,
        "vec_id", "embedding", k = 10, nprobe = Some(6))
      val inMem = graft.operators.IvfIndex.searchInMemory(idx, vecs, queries,
        "vec_id", "embedding", k = 10, nprobe = Some(6))
      fromDisk.exceptAll(inMem).agg(count(lit(1)).as("extra"))
        .crossJoin(inMem.exceptAll(fromDisk).agg(count(lit(1)).as("missing")))
    }),

    // D-incremental exact leg: the Bloom-filter screen (carried state
    // = ~1.2 MB/M docs, the daily-ingest exact-dedup primitive) as a
    // driver verdict — history's filter must flag EVERY batch row
    // whose text exists in history (no false negatives, the Bloom
    // property) and pass clean rows at ~the build fpp (bounded here
    // at 5% + small-sample slack).
    "dedup_bloom_check" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val path = Staging.once("bloom", dir) { p =>
        graft.operators.Sketches.buildExactBloom(
          docs.filter(col("doc_id") % 2 === 0), "text", s"$p/bloom.bin")
      } + "/bloom.bin"
      val batch = docs.filter(col("doc_id") % 3 === 0)
      val screened = graft.operators.Sketches
        .screenExactBloom(batch, "text", path)
      val histTexts = docs.filter(col("doc_id") % 2 === 0)
        .select("text").distinct().withColumn("in_hist", lit(true))
      screened.join(histTexts, Seq("text"), "left")
        .agg(count(lit(1)).as("n_batch"),
          sum(when(col("in_hist") && !col("maybe_dup"), 1).otherwise(0))
            .as("false_neg"),
          sum(when(col("in_hist").isNull && col("maybe_dup"), 1).otherwise(0))
            .as("fp"),
          sum(when(col("in_hist").isNull, 1).otherwise(0)).as("clean"))
        .select(col("n_batch"),
          (col("false_neg") === 0).as("no_false_neg"),
          (col("fp") <= greatest(lit(5L), (col("clean") * 0.05).cast("long")))
            .as("fp_ok"))
    }),

    // D10 (HLL state): the reference verify query's count +
    // countDistinct pair (run_tests.py:91) answered from MERGED
    // per-day sketch state instead of a re-scan — two "daily" states
    // (event_id parity) built, unioned, uniqMerge'd, estimated.
    // FULL-oracle shape: DuckDB recomputes total + exact distinct;
    // the est_ok verdict pins the sketch estimate to ±max(2, 5%) of
    // exact, so a drifting estimator hash-mismatches.
    // D18 (r11): count-min sketch lifecycle check — build per-half
    // states, MERGE them (element-wise addition: merge(states) ==
    // state(union) bit-identically, CountMinSpec pins it), then
    // point-query the per-type top user. The verdict pins BOTH sides
    // of the CMS contract: est ≥ exact (the deterministic
    // overestimate-only invariant) and est ≤ exact + 4·⌈N/width⌉
    // (the probabilistic overshoot at depth 4 — deterministic per
    // dataset under the fixed seed, so once green at a scale it
    // stays green). DuckDB recomputes the exact top user and count;
    // the estimate itself is sketch-internal (the uniq-state
    // precedent).
    "cdc_cms_check" -> ((s, dir) => {
      val events = Tables.load(s, dir, "events")
        .filter(col("user_id").isNotNull)
      val halves = Seq(0, 1).map(d => graft.operators.Sketches.cmsState(
        events.filter(col("event_id") % 2 === d),
        Seq("event_type"), "user_id"))
      val merged = graft.operators.Sketches.mergeCmsStates(
        halves.reduce(_ unionAll _), Seq("event_type"))
      val exact = events.groupBy("event_type", "user_id")
        .agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy(col("cnt").desc, col("user_id"))
      val top = exact.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("event_type"), col("user_id").as("top_user"),
          col("cnt").as("exact_cnt"))
      val totals = events.groupBy("event_type")
        .agg(count(lit(1)).as("n_type"))
      top.join(merged, "event_type").join(totals, "event_type")
        .withColumn("est", graft.operators.Sketches.cmsEstimate(
          col("cms_state"), col("top_user")))
        .select(col("event_type"), col("top_user"), col("exact_cnt"),
          // Overshoot bound ⌈N/512⌉ (16× the expected per-row
          // collision mass N/8192, ADVICE r11): the previous
          // 4·⌈N/8192⌉ was tighter than the formal depth-4 guarantee
          // and a tail collision on a NEW dataset/scale would have
          // surfaced as an opaque hash mismatch. The widened bound is
          // still binding on real defects — a broken merge or
          // estimator is off by O(exact) ≈ O(N/|users|·skew), orders
          // above N/512 — while the benign-collision false-red class
          // is gone (min-over-4-rows excess reaching 16× its mean has
          // probability ~(1/16)^4 per key by Markov).
          (col("est") >= col("exact_cnt") &&
            col("est") <= col("exact_cnt") + ceil(col("n_type") / lit(512.0)))
            .as("est_ok"))
        .orderBy("event_type")
    }),

    "cdc_uniq_state_check" -> ((s, dir) => {
      val events = Tables.load(s, dir, "events")
      val days = Seq(0, 1).map(d => graft.operators.Sketches.distinctState(
        events.filter(col("event_id") % 2 === d), Seq("event_type"), "user_id"))
      val est = graft.operators.Sketches.estimateDistinct(
        graft.operators.Sketches.mergeDistinctStates(
          days.reduce(_ unionAll _), Seq("event_type")))
      val exact = events.groupBy("event_type")
        .agg(count_distinct(col("user_id")).as("uniq_exact"))
      est.join(exact, "event_type")
        .select(col("event_type"), col("total"), col("uniq_exact"),
          (abs(col("uniq_est") - col("uniq_exact")) <=
            greatest(lit(2L), (col("uniq_exact") * 0.05).cast("long")))
            .as("est_ok"))
        .orderBy("event_type")
    }),

    // Theta-state overlap (the decontaminate pre-screen): |hist|,
    // |batch|, |hist ∩ batch| on distinct text from two KB sketch
    // rows. FULL-oracle shape: DuckDB recomputes the three exact
    // cardinalities; est_ok pins all three estimates (sides ±5%,
    // intersection ±10% — exact below 2^14 retained, so the slack
    // only does work once the corpus outgrows exact mode).
    "corpus_overlap_check" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val hist = docs.filter(col("doc_id") % 2 === 0)
      val batch = docs.filter(col("doc_id") % 3 === 0)
      val est = graft.operators.Sketches.thetaOverlap(
        graft.operators.Sketches.thetaState(hist, Nil, "text", lgK = 14),
        graft.operators.Sketches.thetaState(batch, Nil, "text", lgK = 14),
        Nil)
      val hx = hist.select("text").distinct()
      val bx = batch.select("text").distinct()
      def tol(est: Column, exact: Column, pct: Double) =
        abs(est - exact) <= greatest(lit(5L), (exact * pct).cast("long"))
      hx.agg(count(lit(1)).as("uniq_hist"))
        .crossJoin(bx.agg(count(lit(1)).as("uniq_batch")))
        .crossJoin(hx.intersect(bx).agg(count(lit(1)).as("overlap")))
        .crossJoin(est)
        .select(col("uniq_hist"), col("uniq_batch"), col("overlap"),
          (tol(col("uniq_a"), col("uniq_hist"), 0.05) &&
            tol(col("uniq_b"), col("uniq_batch"), 0.05) &&
            tol(col("overlap_est"), col("overlap"), 0.10)).as("est_ok"))
    }),

    // KLL-state per-lang length percentiles from merged day-states.
    // Verdict = the sketch's INCLUSIVE-rank guarantee (±1.65% at
    // k=200, checked at ±3%): each estimate must sit between the
    // exact order statistics at rank r ∓ 0.03. n_ok pins the
    // sketch's item accounting to the exact row count.
    "text_len_quantiles_check" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val days = Seq(0, 1).map(d => graft.operators.Sketches.quantileState(
        docs.filter(col("doc_id") % 2 === d), Seq("lang"), "n_chars"))
      val qs = graft.operators.Sketches.quantiles(
        graft.operators.Sketches.mergeQuantileStates(
          days.reduce(_ unionAll _), Seq("lang")), Seq(0.5, 0.9, 0.99))
      // per-lang sorted value arrays: bounded (|docs per lang|) and
      // check-only — the exact order statistics the verdict brackets
      val exact = docs.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sort_array(collect_list(col("n_chars").cast("long"))).as("xs"))
      def ok(est: Column, r: Double): Column = {
        val lo = element_at(col("xs"),
          greatest(lit(1L), ceil(lit(r - 0.03) * col("n_docs"))).cast("int"))
        val hi = element_at(col("xs"),
          least(col("n_docs"), ceil(lit(r + 0.03) * col("n_docs"))).cast("int"))
        est.between(lo, hi)
      }
      qs.join(exact, "lang")
        .select(col("lang"), col("n_docs"),
          (col("n") === col("n_docs")).as("n_ok"),
          ok(col("q50"), 0.5).as("p50_ok"),
          ok(col("q90"), 0.9).as("p90_ok"),
          ok(col("q99"), 0.99).as("p99_ok"))
        .orderBy("lang")
    }),

    // Frequent-items (topK) state: "most active users per event type"
    // answered from MERGED per-day sketch rows (ClickHouse topKState/
    // topKMerge) instead of a history re-scan. FULL-oracle shape with
    // a TIE-ROBUST verdict: tie order among equal counts is sketch-
    // internal and legitimately differs run-to-run, so the check never
    // compares array order — it verifies (a) every returned count
    // equals the exact per-user count (in exact mode: distinct users
    // per type under the 32k capacity), and (b) every returned item's
    // exact count clears the k-th largest exact count (any tie-broken
    // top-k is valid).
    //
    // r15 (VERDICT r13 #4 / r14 #2): SELF-CLASSIFYING regime verdict.
    // Past capacity the datasketches frequent-items sketch only
    // returns items provably above its error bound (N/capacity) —
    // no-false-positives saturation, an empty result on uniform
    // replication (the flat100 artifact, red since r8). Both engines
    // now classify the regime from the SAME exact statistic (per-type
    // distinct users vs capacity): 'exact' binds the full verdict;
    // 'saturated' emits a sentinel row (n_returned = -1, vacuous
    // verdicts) that names the regime honestly instead of
    // hash-mismatching. The zipf100 twin stays the binding regime.
    "cdc_topk_state_check" -> ((s, dir) =>
      topkStateCheck(Tables.load(s, dir, "events"), cap = 32768)),

    // ClickHouse uniqUpTo(N) — min(distinct, N+1) per key, per-group
    // state capped at N+1 hashes (functions/BoundedAggs.scala). FULL
    // oracle: the semantics are exact in BOTH regimes, so the entry
    // exercises a saturated cap (100 < per-type user cardinality at
    // every SF), an unsaturated one, and a string-typed value with
    // nulls (the JSON property path). count(DISTINCT) on the oracle
    // side skips nulls exactly as the aggregate does.
    "cdc_uniq_upto" -> ((s, dir) =>
      Tables.load(s, dir, "events").groupBy("event_type")
        .agg(
          Sketches.uniqUpToCol(col("user_id"), 100).as("uniq_100"),
          Sketches.uniqUpToCol(col("user_id"), 100000).as("uniq_free"),
          Sketches.uniqUpToCol(get_json_object(col("props"), "$.k"), 10)
            .as("k_uniq_10"))
        .orderBy("event_type")),

    // ClickHouse topKWeighted: per-type top-5 users by summed
    // scaled-integer event value. floor(value*10000) keeps both
    // engines in exact long arithmetic — identical IEEE multiply +
    // floor, then integer sums. In the EXACT regime (per-type
    // distinct items ≤ capacity — no eviction, deterministic
    // (weight desc, item asc) tie-break) the FULL row_number oracle
    // binds; r15 (VERDICT r13 #4 / r14 #2): past capacity both
    // engines classify 'saturated' from the same distinct-count and
    // emit sentinel rows — eviction breaks sum exactness and the
    // flat pack's exact cross-replica weight ties make the surviving
    // tie-break sketch-internal (the flat100 artifact, red since r8).
    "cdc_topk_weighted" -> ((s, dir) =>
      topkWeightedEntry(Tables.load(s, dir, "events"), cap = 100000)),

    // E6 storage gate: IvfIndex.stats (the system.parts analog over
    // the cid layout) driver-checked end-to-end through a real
    // build + 2 appends + compact cycle on its OWN small index (the
    // shared staged index must stay append-free — sim_ivf_index_check
    // compares it against an in-memory twin of the original corpus):
    // the fragmentation flag must match compact's work list exactly,
    // row accounting must survive the whole cycle, and the compacted
    // layout must be fragment-free.
    "sim_ivf_storage_check" -> ((s, dir) => {
      val vecs = Tables.load(s, dir, "embeddings")
      // its own index, built and appended to once per JVM: the first
      // stats/compact cycle is the exercised verdict, later calls see
      // the compacted steady state
      val path = Staging.once("ivf_frag", dir) { p =>
        val idx = graft.operators.IvfIndex.build(
          vecs.filter(col("vec_id") % 4 === 0), "vec_id", "embedding", p,
          nCentroids = Some(8), fitSamplePct = Some(100))
        graft.operators.IvfIndex.append(idx,
          vecs.filter(col("vec_id") % 4 === 1), "vec_id", "embedding")
        graft.operators.IvfIndex.append(idx,
          vecs.filter(col("vec_id") % 4 === 2), "vec_id", "embedding")
      }
      val idx = graft.operators.IvfIndex.load(s, path)
      // MATERIALIZE the pre-compact stats (one bounded row) before
      // compacting: a lazy pre-DataFrame would plan against file
      // paths the compaction renames away and fail at execution
      val pre = graft.operators.IvfIndex.stats(s, idx, maxFiles = 1)
        .agg(sum(col("rows")).as("pre_rows"),
          sum(when(col("fragmented"), 1).otherwise(0)).as("pre_frag"))
        .collect()(0)
      val compacted = graft.operators.IvfIndex.compact(s, idx, maxFiles = 1)
      graft.operators.IvfIndex.stats(s, idx, maxFiles = 1)
        .agg(sum(col("rows")).as("n_indexed"),
          sum(when(col("fragmented"), 1).otherwise(0)).as("post_frag"))
        .select(col("n_indexed"),
          (lit(pre.getAs[Long]("pre_rows")) === col("n_indexed") &&
            lit(pre.getAs[Long]("pre_frag")) === lit(compacted.size.toLong) &&
            col("post_frag") === 0).as("layout_ok"))
    }),

    // E6 drift gate (VERDICT r5 #4): the frozen-model append path's
    // monitoring signal, driver-checked as a verdict — an
    // in-distribution batch (a slice of the indexed corpus) must read
    // ~1 on both drift signals while a translated copy of the SAME
    // batch must concentrate (top centroid holds most rows) and read
    // clearly high on occupancy. The oracle pins the verdict booleans
    // plus the batch size.
    "sim_ivf_drift_check" -> ((s, dir) => {
      val vecs = Tables.load(s, dir, "embeddings")
      val idx = graft.operators.IvfIndex.load(s, stagedIndex(s, dir))
      val inDist = vecs.filter(col("vec_id") % 10 === 3)
      val drifted = inDist.withColumn("embedding",
        transform(col("embedding"), x => x + lit(0.5f)))
      val a = graft.operators.IvfIndex
        .driftStats(s, idx, inDist, "vec_id", "embedding")
        .select(col("n").as("n_batch"), col("drift_ratio").as("a_ratio"),
          col("occupancy_ratio").as("a_occ"))
      val b = graft.operators.IvfIndex
        .driftStats(s, idx, drifted, "vec_id", "embedding")
        .select(col("occupancy_ratio").as("b_occ"),
          col("top_cid_frac").as("b_top"))
      // thresholds measured across sf0.001/0.01/0.1 (in-dist occ
      // 1.2–1.75, drifted occ 5.8–9.6; drifted top frac dips to 0.46
      // when the shift straddles two centroids — the occupancy RATIO
      // is the robust discriminator, the top-frac floor only guards
      // degeneracy)
      a.crossJoin(b) // single-row aggregates both sides
        .select(col("n_batch"),
          (col("a_ratio") < 1.5 && col("a_occ") < 3.0).as("indist_ok"),
          (col("b_top") > 0.3 && col("b_occ") > col("a_occ") * 2.0)
            .as("drift_detected"))
    })
  )

  /** The persisted IVF index for `dir`, built once per JVM at a pinned
    * configuration (16 centroids, 10% fit sample) — shared by the
    * index zero-diff check and the drift gate. */
  private def stagedIndex(s: org.apache.spark.sql.SparkSession,
                          dir: String): String =
    Staging.once("ivf_index", dir) { p =>
      graft.operators.IvfIndex.build(
        Tables.load(s, dir, "embeddings"), "vec_id", "embedding", p,
        nCentroids = Some(16), fitSamplePct = Some(10))
    }

  // The checks' exact ground truths (brute-force top-k, filtered or
  // not; the capped-Jaccard and embedding pair sets) are DETERMINISTIC
  // functions of the corpus that several `_check` entries each need —
  // at sf0.1 recomputing them was the dominant share of check_secs.
  // Staged once per JVM and read back from parquet (bit-exact for
  // doubles), the checks compare against the identical rows at a
  // fraction of the cost; what each check verifies — the APPROXIMATE
  // side's contract — is untouched.
  private def stagedExact(s: org.apache.spark.sql.SparkSession, kind: String,
                          dir: String)(exact: => DataFrame): DataFrame =
    s.read.parquet(Staging.once(kind, dir)(exact.write.mode("overwrite").parquet(_)))

  private def exactTopk(s: org.apache.spark.sql.SparkSession,
                        dir: String): DataFrame =
    stagedExact(s, "exact_topk", dir) {
      Similarity.bruteForceTopK(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding",
        maxRows = graft.operators.Guard.envMaxRows(),
        allowAllPairs = graft.operators.Guard.envAllow)
    }

  /** Exact FILTERED top-k baseline (same-label brute force) — the
    * filtered-ANN check's ground truth. Same Guard env posture at
    * scale sweeps. */
  private def exactFilteredTopk(s: org.apache.spark.sql.SparkSession,
                                dir: String): DataFrame =
    stagedExact(s, "exact_filtered_topk", dir) {
      Similarity.bruteForceTopK(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding",
        maxRows = graft.operators.Guard.envMaxRows(),
        allowAllPairs = graft.operators.Guard.envAllow,
        filterCol = Some("label"))
    }

  private def exactJaccard(s: org.apache.spark.sql.SparkSession,
                           dir: String): DataFrame =
    stagedExact(s, "exact_jaccard", dir) {
      Dedup.jaccardPairs(Tables.load(s, dir, "documents"), "doc_id", "text",
        n = 3, tau = 0.5, dfCap = 1000L)
    }

  private def exactEmbeddingPairs(s: org.apache.spark.sql.SparkSession,
                                  dir: String): DataFrame =
    stagedExact(s, "exact_pairs", dir) {
      Dedup.embeddingPairs(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", tau = 0.4,
        maxRows = graft.operators.Guard.envMaxRows(),
        allowAllPairs = graft.operators.Guard.envAllow)
    }

  /** One-row recall verdict for sketches whose ground truth IS
    * SQL-expressible: (exact_pairs, recall_ok) on (i, j) pair ids. */
  // one-row recall verdict — shared with the planted text checks
  private def recallRow(got: DataFrame, exact: DataFrame,
                        minRecall: Double): DataFrame =
    Planted.recallRow(got, exact, minRecall)

  /** cdc_topk_state_check body, capacity-parameterized so the spec can
    * drive BOTH regimes with a tiny cap (the entry pins 32768).
    * Output: (event_type, regime, n_returned, counts_exact_ok,
    * topk_valid) — regime classified from per-type distinct users vs
    * `cap`, the same exact statistic the DuckDB oracle computes, so
    * the saturated sentinel rows agree cross-engine. */
  private[graft] def topkStateCheck(events: DataFrame,
                                      cap: Int): DataFrame = {
    val days = Seq(0, 1).map(d => graft.operators.Sketches.topkState(
      events.filter(col("event_id") % 2 === d), Seq("event_type"),
      "user_id", maxItemsTracked = cap))
    val est = graft.operators.Sketches.topk(
        graft.operators.Sketches.mergeTopkStates(
          days.reduce(_ unionAll _), Seq("event_type"),
          maxItemsTracked = cap), k = 10)
      .select(col("event_type"), explode(col("topk")).as("e"))
      .select(col("event_type"), col("e.item").as("item"),
        col("e.count").as("est"))
    val exact = events.filter(col("user_id").isNotNull)
      .groupBy("event_type", "user_id")
      .agg(count(lit(1)).as("cnt"))
    // per-type k-th largest exact count (with multiplicity): the
    // validity floor any tie-broken top-k must clear. The per-type
    // count array is bounded (|users per type|) and check-only —
    // same construct as the KLL check's order statistics. n_users
    // rides along: it is the regime classifier.
    val kth = exact.groupBy("event_type")
      .agg(sort_array(collect_list(col("cnt")), asc = false).as("cs"),
        count(lit(1)).as("n_users"))
      .select(col("event_type"), col("n_users"),
        element_at(col("cs"),
          least(lit(10L), col("n_users")).cast("int")).as("kth_cnt"))
    val verdicts = est.join(exact.withColumnRenamed("user_id", "item"),
        Seq("event_type", "item"), "left")
      .join(kth.select("event_type", "kth_cnt"), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_returned"),
        sum(when(col("cnt").isNull || col("est") =!= col("cnt"), 1)
          .otherwise(0)).as("bad"),
        sum(when(col("cnt") < col("kth_cnt"), 1).otherwise(0)).as("below"))
    // LEFT join from the per-type anchor: in the saturated regime the
    // sketch legitimately returns nothing, and the row must survive
    // to carry its regime verdict
    kth.select("event_type", "n_users")
      .join(verdicts, Seq("event_type"), "left")
      .select(col("event_type"),
        when(col("n_users") <= cap, lit("exact"))
          .otherwise(lit("saturated")).as("regime"),
        when(col("n_users") <= cap, coalesce(col("n_returned"), lit(0L)))
          .otherwise(lit(-1L)).as("n_returned"),
        when(col("n_users") <= cap,
          coalesce(col("bad") === 0, lit(false)))
          .otherwise(lit(true)).as("counts_exact_ok"),
        when(col("n_users") <= cap,
          coalesce(col("below") === 0, lit(false)))
          .otherwise(lit(true)).as("topk_valid"))
      .orderBy("event_type")
  }

  /** cdc_topk_weighted body, capacity-parameterized (the entry pins
    * 100000). Output: (event_type, regime, rk, user_id, w_sum) — in
    * the exact regime (per-type distinct items ≤ cap: no eviction,
    * exact sums, deterministic (weight desc, item asc) tie-break) the
    * real top-5 binds; past capacity eviction breaks exactness and
    * exact cross-replica weight TIES make the surviving tie-break
    * sketch-internal (the flat100 artifact), so both engines emit the
    * same sentinel rows naming the regime. */
  private[graft] def topkWeightedEntry(events: DataFrame,
                                         cap: Int): DataFrame = {
    val weighted = events.select(col("event_type"),
      col("user_id").cast("string").as("item"),
      floor(col("value") * 10000).cast("long").as("w"))
    val regime = weighted.groupBy("event_type")
      .agg(count_distinct(col("item")).as("n_items"))
      .select(col("event_type"),
        when(col("n_items") <= cap, lit("exact"))
          .otherwise(lit("saturated")).as("regime"))
    Sketches.topkWeighted(weighted, Seq("event_type"), "item", "w",
        capacity = cap)
      .select(col("event_type"), posexplode(slice(col("topk_w"), 1, 5)))
      .select(col("event_type"), (col("pos") + 1).cast("long").as("rk"),
        col("col.item").as("item"), col("col.weight").as("w"))
      .join(regime, "event_type")
      .select(col("event_type"), col("regime"), col("rk"),
        when(col("regime") === "exact", col("item"))
          .otherwise(lit("(saturated)")).as("user_id"),
        when(col("regime") === "exact", col("w"))
          .otherwise(lit(-1L)).as("w_sum"))
      .orderBy("event_type", "rk")
  }

  /** Planted ANN ground truth shared by the E2/E3/E10 planted checks:
    * (query, jittered-copy) id pairs at cosine ≥ 0.9 — the scale_up
    * --plant-dups convention (dup vec_id = orig + STRIDE/2), filtered
    * to the ANN query stratum (vec_id % 100 = 0). Empty on unplanted
    * packs. */
  private def plantedAnnPairs(s: org.apache.spark.sql.SparkSession,
                              dir: String): DataFrame = {
    val v = Tables.load(s, dir, "embeddings").select(col("vec_id"),
        graft.functions.VectorFunctions.asDouble(col("embedding")).as("v"))
      .withColumn("nrm", graft.functions.VectorFunctions.l2(col("v")))
    v.as("a")
      .join(v.as("b"), col("b.vec_id") === col("a.vec_id") + lit(500000000L))
      .filter(col("a.vec_id") % 100 === 0)
      .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"),
        graft.functions.VectorFunctions.cosinePre(
          graft.functions.VectorFunctions.dot(col("a.v"), col("b.v")),
          col("a.nrm"), col("b.nrm")).as("cosine"))
      .filter(col("cosine") >= 0.9)
      .select("i", "j")
  }

  /** Shared oracle for the planted ANN checks: the DuckDB replay of
    * [[plantedAnnPairs]] — pair count + the recall contract (always
    * true on the oracle side; the Spark side computes the actual
    * recall and reports false on a miss, which hash-mismatches). */
  private val plantedAnnOracle =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM v),
       p AS (SELECT a.vec_id AS i, b.vec_id AS j
             FROM n a JOIN n b ON b.vec_id = a.vec_id + 500000000
             WHERE a.vec_id % 100 = 0
               AND list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.9)
       SELECT count(*) AS exact_pairs, true AS recall_ok FROM p"""

  /** One-row contract verdict: (bad_pairs, recall_ok, <exactCount>).
    * All three aggregates are tiny; the cross joins are 1×1×1. */
  private def checkRow(bad: DataFrame, got: DataFrame, want: DataFrame,
                       minRecall: Double, exactCountCol: String): DataFrame =
    bad.agg(count(lit(1)).as("bad_pairs"))
      .crossJoin(got.agg(count(lit(1)).as("got_n")))
      .crossJoin(want.agg(count(lit(1)).as(exactCountCol)))
      .select(col("bad_pairs"),
        (col("got_n").cast("double") >= col(exactCountCol) * lit(minRecall))
          .as("recall_ok"),
        col(exactCountCol))

  /** Recall check shared by the ANN paths: hits = approx rows whose
    * (q_id, vec_id) the exact top-k also ranks; recall = hits /
    * |exact|. `bad_pairs` counts approx rows the baseline ranks with a
    * DIFFERENT cosine — exact-scoring means there are none. */
  private def annCheck(s: org.apache.spark.sql.SparkSession, dir: String,
                       approx: DataFrame => DataFrame,
                       minRecall: Double,
                       exactBaseline: Option[DataFrame] = None): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    // staged once per JVM, bit-exact
    val exact = exactBaseline.getOrElse(exactTopk(s, dir))
    val got = approx(emb)
    val hits = got.join(exact, Seq("q_id", "vec_id", "cosine"), "left_semi")
    val mismatched = got.join(exact.select("q_id", "vec_id"),
        Seq("q_id", "vec_id"), "left_semi")
      .join(exact, Seq("q_id", "vec_id", "cosine"), "left_anti")
    mismatched.agg(count(lit(1)).as("bad_pairs"))
      .crossJoin(hits.agg(count(lit(1)).as("hits")))
      .crossJoin(exact.agg(count(lit(1)).as("exact_n"),
        count_distinct(col("q_id")).as("n_queries")))
      .select(col("bad_pairs"),
        (col("hits").cast("double") >= col("exact_n") * lit(minRecall))
          .as("recall_ok"),
        col("n_queries"))
  }

  // The raw sketch operators are not SQL-expressible (xxhash64 /
  // sign-hash signatures) → rows-only; the *_check entries are the
  // oracle surface for their contracts. DuckDB recomputes the
  // data-derived column (exact cardinality / query count) and pins
  // the literal expectations.
  // the exact capped-Jaccard pair set (same SQL as the
  // dedup_ngram_jaccard oracle) as a reusable CTE body
  private val exactJaccardCte =
    """WITH t AS (SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS arr FROM documents),
       sh AS (SELECT DISTINCT doc_id, arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS tok
              FROM t, unnest(range(1, len(arr) - 1)) AS r(i)
              WHERE len(arr) >= 3),
       idx AS (SELECT doc_id, tok FROM sh
               QUALIFY count(*) OVER (PARTITION BY tok) <= 1000),
       sizes AS (SELECT doc_id, count(*) AS sz FROM idx GROUP BY doc_id),
       pairs AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter
                 FROM idx a JOIN idx b USING (tok)
                 WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
       ex AS (SELECT i, j FROM pairs
              JOIN sizes sa ON pairs.i = sa.doc_id
              JOIN sizes sb ON pairs.j = sb.doc_id
              WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.5)"""

  // the PLANTED-pair capped Jaccard as a reusable CTE body: the
  // id-mapped join at +5e8 replaces exactJaccardCte's quadratic
  // idx-self-join — LINEAR, the 100×-feasible form (`pj(i, j, j)` =
  // pair ids + exact capped Jaccard; filter per check)
  private val plantedJaccardCte =
    """WITH t AS (SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS arr FROM documents),
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
                     inter * 1.0 / (sa.sz + sb.sz - inter) AS j
              FROM inter
              JOIN sizes sa ON sa.doc_id = i
              JOIN sizes sb ON sb.doc_id = i + 500000000)"""

  val oracles: Map[String, String] = Map(
    "cdc_uniq_upto" ->
      """SELECT event_type,
                LEAST(count(DISTINCT user_id), 101) AS uniq_100,
                LEAST(count(DISTINCT user_id), 100001) AS uniq_free,
                LEAST(count(DISTINCT json_extract_string(props, '$.k')), 11) AS k_uniq_10
         FROM events GROUP BY event_type ORDER BY event_type""",
    "cdc_topk_weighted" ->
      """WITH ex AS (SELECT event_type, CAST(user_id AS VARCHAR) AS user_id,
                  CAST(sum(CAST(floor(value * 10000) AS BIGINT)) AS BIGINT) AS w_sum
             FROM events GROUP BY 1, 2),
           reg AS (SELECT event_type,
                  CASE WHEN count(*) <= 100000 THEN 'exact'
                       ELSE 'saturated' END AS regime
             FROM ex GROUP BY event_type),
           rk AS (SELECT event_type, user_id, w_sum,
                  row_number() OVER (PARTITION BY event_type
                    ORDER BY w_sum DESC, user_id ASC) AS rk
             FROM ex)
         SELECT r.event_type, g.regime, r.rk,
                CASE WHEN g.regime = 'exact' THEN r.user_id
                     ELSE '(saturated)' END AS user_id,
                CASE WHEN g.regime = 'exact' THEN r.w_sum
                     ELSE -1 END AS w_sum
         FROM rk r JOIN reg g USING (event_type)
         WHERE r.rk <= 5 ORDER BY event_type, rk""",
    "sim_ivf_index_check" ->
      """SELECT CAST(0 AS BIGINT) AS extra, CAST(0 AS BIGINT) AS missing""",
    "sim_ivf_storage_check" ->
      """SELECT count(*) AS n_indexed, true AS layout_ok
         FROM embeddings WHERE vec_id % 4 < 3""",
    "dedup_bloom_check" ->
      """SELECT count(*) AS n_batch, true AS no_false_neg, true AS fp_ok
         FROM documents WHERE doc_id % 3 = 0""",
    "cdc_cms_check" ->
      """WITH c AS (SELECT event_type, user_id, count(*) AS cnt
             FROM events WHERE user_id IS NOT NULL
             GROUP BY event_type, user_id),
           r AS (SELECT *, row_number() OVER (PARTITION BY event_type
             ORDER BY cnt DESC, user_id) AS rk FROM c)
         SELECT event_type, user_id AS top_user, cnt AS exact_cnt,
                true AS est_ok
         FROM r WHERE rk = 1 ORDER BY event_type""",
    "cdc_uniq_state_check" ->
      """SELECT event_type, count(*) AS total,
                count(DISTINCT user_id) AS uniq_exact, true AS est_ok
         FROM events GROUP BY event_type ORDER BY event_type""",
    "corpus_overlap_check" ->
      """WITH h AS (SELECT DISTINCT text FROM documents WHERE doc_id % 2 = 0),
              b AS (SELECT DISTINCT text FROM documents WHERE doc_id % 3 = 0)
         SELECT (SELECT count(*) FROM h) AS uniq_hist,
                (SELECT count(*) FROM b) AS uniq_batch,
                (SELECT count(*) FROM h JOIN b USING (text)) AS overlap,
                true AS est_ok""",
    "text_len_quantiles_check" ->
      """SELECT lang, count(*) AS n_docs, true AS n_ok, true AS p50_ok,
                true AS p90_ok, true AS p99_ok
         FROM documents GROUP BY lang ORDER BY lang""",
    "cdc_topk_state_check" ->
      """SELECT event_type,
                CASE WHEN count(DISTINCT user_id) <= 32768 THEN 'exact'
                     ELSE 'saturated' END AS regime,
                CASE WHEN count(DISTINCT user_id) <= 32768
                     THEN LEAST(10, count(DISTINCT user_id))
                     ELSE -1 END AS n_returned,
                true AS counts_exact_ok, true AS topk_valid
         FROM events WHERE user_id IS NOT NULL
         GROUP BY event_type ORDER BY event_type""",
    // n_batch mirrors driftStats' zero-norm exclusion (no direction ⇒
    // no distance) so a degenerate vector can't skew the count compare
    "sim_ivf_drift_check" ->
      """SELECT count(*) AS n_batch, true AS indist_ok,
                true AS drift_detected
         FROM embeddings
         WHERE vec_id % 10 = 3
           AND list_dot_product(CAST(embedding AS DOUBLE[]),
                                CAST(embedding AS DOUBLE[])) > 0""",
    "dedup_minhash_lsh_check" ->
      s"""$exactJaccardCte
         SELECT count(*) AS exact_pairs, true AS recall_ok FROM ex""",
    "dedup_incremental_check" ->
      s"""$exactJaccardCte
         SELECT count(*) AS exact_pairs, true AS recall_ok FROM ex
         WHERE (i % 10 = 0) <> (j % 10 = 0)""",
    "dedup_simhash_check" ->
      s"""$exactJaccardCte
         SELECT count(*) AS exact_pairs, true AS recall_ok FROM ex""",
    // LINEAR planted recomputes (id-mapped join at +5e8 — no
    // quadratic explode; see DedupQueries.dedup_ngram_planted_check)
    "dedup_minhash_planted_check" ->
      s"""$plantedJaccardCte
          SELECT count(*) AS exact_pairs, true AS recall_ok
          FROM pj WHERE j >= 0.7e0""",
    // identical truth set: every planted J ≥ 0.7 pair IS a
    // batch↔history pair under the plant-id split (entry comment)
    "dedup_incremental_planted_check" ->
      s"""$plantedJaccardCte
          SELECT count(*) AS exact_pairs, true AS recall_ok
          FROM pj WHERE j >= 0.7e0""",
    "dedup_simhash_planted_check" ->
      """SELECT count(*) AS exact_pairs, true AS recall_ok
         FROM documents a JOIN documents b
           ON b.doc_id = a.doc_id + 500000000
         WHERE a.doc_id % 50 = 23
           AND a.doc_id % 1000000000 < 500000000""",
    "dedup_semantic_check" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM v),
         p AS (SELECT a.vec_id AS i, b.vec_id AS j
               FROM n a JOIN n b ON b.vec_id = a.vec_id + 500000000
               WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.9)
         SELECT count(*) AS exact_pairs, true AS recall_ok FROM p""",
    "dedup_embedding_lsh_check" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM v),
         ex AS (SELECT a.vec_id AS i, b.vec_id AS j
                FROM n a JOIN n b ON a.vec_id < b.vec_id
                WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4)
         SELECT CAST(0 AS BIGINT) AS bad_pairs, true AS recall_ok,
                count(*) AS exact_pairs
         FROM ex""",
    "dedup_embedding_lsh_planted_check" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM v),
         p AS (SELECT a.vec_id AS i, b.vec_id AS j
               FROM n a JOIN n b ON b.vec_id = a.vec_id + 500000000
               WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.9)
         SELECT count(*) AS exact_pairs, true AS recall_ok FROM p""",
    "sim_lsh_ann_check" ->
      """SELECT CAST(0 AS BIGINT) AS bad_pairs, true AS recall_ok,
                count(*) AS n_queries
         FROM embeddings WHERE vec_id % 100 = 0""",
    "sim_ivf_ann_check" ->
      """SELECT CAST(0 AS BIGINT) AS bad_pairs, true AS recall_ok,
                count(*) AS n_queries
         FROM embeddings WHERE vec_id % 100 = 0""",
    "sim_ivfpq_check" ->
      """SELECT CAST(0 AS BIGINT) AS bad_pairs, true AS recall_ok,
                count(*) AS n_queries
         FROM embeddings WHERE vec_id % 100 = 0""",
    "sim_ivfpq_planted_check" -> plantedAnnOracle,
    "sim_ivf_ann_planted_check" -> plantedAnnOracle,
    "sim_lsh_ann_planted_check" -> plantedAnnOracle,
    "sim_filtered_ann_planted_check" -> plantedAnnOracle,
    // n_queries counts query vectors with >= 1 same-label partner
    // (a query alone in its label has an EMPTY exact top-k — no
    // baseline rows, so it can't appear in the distinct-q_id count)
    "sim_filtered_ann_check" ->
      """SELECT CAST(0 AS BIGINT) AS bad_pairs, true AS recall_ok,
                count(*) AS n_queries
         FROM embeddings q
         WHERE vec_id % 100 = 0 AND EXISTS (
           SELECT 1 FROM embeddings c
           WHERE c.label = q.label AND c.vec_id <> q.vec_id)"""
  )
}
