package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

import Pins.pin

/** SURVEY §2.D — deduplication family for the LLM-data pipeline.
  *
  * Scale stance (100 TB): nothing here is O(n²) except the *exact*
  * embedding variant, which is definitionally all-pairs and exists as
  * the correctness baseline for the LSH/IVF approximate paths
  * (Similarity.scala). Jaccard/MinHash/SimHash all reduce candidate
  * generation to equi-join shuffles on content-derived keys
  * (inverted-index token / LSH band / hamming band), with a document-
  * frequency cap bounding the worst bucket (stop-shingle skew) — the
  * same trick as stop-word removal in classic near-dup pipelines.
  * Multi-consumer relations are pinned through [[Pins.pin]] (cache
  * lifetime: its scaladoc).
  */
object Dedup {

  /** D1: exact dedup on a content hash; keep-first = lowest id wins.
    * One hash-agg shuffle on the 128-bit content key; map-side partial
    * aggregation collapses local duplicates before the exchange.
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(md5(col(textCol)).as("fp"), col(idCol))
      .groupBy("fp")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** The surviving ROWS of exact dedup (what a corpus-curation
    * pipeline actually consumes): per content hash, the full row with
    * the lowest id — one `min_by(struct)` hash-agg, no join-back. */
  def exactKept(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val cols = docs.columns.toIndexedSeq.map(col)
    docs
      .groupBy(md5(col(textCol)).as("fp"))
      .agg(min_by(struct(cols: _*), col(idCol)).as("row"))
      .select(col("row.*"))
  }

  /** D9: sub-document (span-level) dedup — the C4/Gopher-style pass
    * that removes REPEATED SPANS across the corpus (boilerplate
    * headers, navigation lines, license blocks) while keeping each
    * document's unique content, where whole-document dedup (D1–D6)
    * keeps or drops documents atomically. The caller chooses the span
    * unit by supplying `spansCol: array<string>` — newline splits,
    * sentences, or fixed k-word chunks ([[TextOps.wordChunks]]) — so
    * the operator is granularity-agnostic.
    *
    * Keep rule: a span's globally FIRST occurrence survives (winner =
    * min (doc, idx) — deterministic, order-independent); every later
    * occurrence is dropped. Per doc, surviving spans are reassembled
    * in original order with `sep`.
    *
    * Scale shape: winner election is one hash-agg on the span content
    * (`min(struct)` — map-side combined, so a boilerplate span with
    * 10^8 occurrences costs each map task one buffer entry, not a
    * reducer hot key) whose output rows ARE the kept set — no
    * join-back (see [[keepFirst]]); reassembly is a per-doc hash-agg
    * whose buffer is bounded by document size. No all-pairs term
    * anywhere.
    */
  def spanDedup(docs: DataFrame, idCol: String, spansCol: String,
                sep: String = " "): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"), col(spansCol).as("spans"))
    base.transform(b => rebuildFromKept(b, keepFirst(explodeSpans(b)), sep))
  }

  /** D9 incremental leg: span dedup of a DAILY BATCH against the
    * historical corpus, carried as the span Bloom filter from
    * [[Sketches.buildExactBloom]] over exploded spans. A batch span is
    * cut when the filter has (probably) seen it OR a same-batch
    * earlier occurrence claims it; survivors rebuild as in
    * [[spanDedup]]. After landing, fold survivors back with
    * `Sketches.mergeExactBloom(explodedKept, "span", path, capacity)`.
    *
    * ε stance: a Bloom false positive here cuts a NOVEL span (~fpp of
    * clean spans — content loss, not correctness loss; boilerplate
    * removal tolerates ε over-trimming by design, unlike document
    * dedup where [[graft.streaming.CdcStream.dedupExactBloomLand]]
    * verifies). Screen cost is O(batch spans), zero history shuffle.
    */
  def spanDedupAgainst(batch: DataFrame, idCol: String, spansCol: String,
                       bloomPath: String, sep: String = " "): DataFrame = {
    val base = batch.select(col(idCol).as("doc_id"), col(spansCol).as("spans"))
    val fresh = Sketches
      .screenExactBloom(explodeSpans(base), "span", bloomPath, "hist_dup")
      .filter(!col("hist_dup")).drop("hist_dup")
    base.transform(b => rebuildFromKept(b, keepFirst(fresh), sep))
  }

  private def explodeSpans(base: DataFrame): DataFrame =
    base.select(col("doc_id"), posexplode(col("spans")).as(Seq("idx", "span")))

  /** Global first-occurrence filter: winner = min (doc, idx) — ONE
    * map-side-combined hash-agg, whose output rows ARE the kept set
    * (one row per distinct span, carrying its winning position).
    *
    * Two r10 reworks, found chasing the 100× pack:
    *  - this used to join the exploded spans back against the winners
    *    to filter to the winning rows — a second full exchange of
    *    every span occurrence plus an equi-join, all to recover
    *    exactly the (span, w.doc_id, w.idx) triple the aggregate had
    *    already produced;
    *  - the winner was `min(struct(doc_id, idx))`, and struct min is
    *    not hash-aggregable — Spark planned a SortAggregate pair,
    *    i.e. TWO full sorts of every span occurrence (pre- and
    *    post-exchange) just to take a minimum. Packing the pair into
    *    one long (`doc_id << 20 | idx` — identical ordering for
    *    non-negative components) turns it into a HashAggregate with
    *    genuine map-side combine: a boilerplate span with 10^8
    *    occurrences still costs each map task one long.
    *
    * Packing contract: idx < 2^20 (a million spans per document) and
    * doc_id < 2^43 — violations raise, never mis-order. The shift is
    * forced 64-bit (`cast("long")` before `shiftleft`): Spark's
    * shiftleft preserves the input's integral type, so an IntegerType
    * caller-supplied id column would otherwise wrap in 32-bit
    * arithmetic for doc_id >= 2^11 while the (long-compared) range
    * guard still passed. */
  private def keepFirst(spans: DataFrame): DataFrame = {
    val packed = when(
      col("doc_id") < 0 || col("doc_id") >= (1L << 43) ||
        col("idx") < 0 || col("idx") >= (1L << 20),
      raise_error(concat(lit("spanDedup: (doc_id, idx) outside the "),
        lit("packed-winner range (doc_id < 2^43, idx < 2^20): "),
        col("doc_id"), lit(","), col("idx"))))
      .otherwise(shiftleft(col("doc_id").cast("long"), 20) +
        col("idx").cast("long"))
    spans.select(packed.as("packed"), col("span"))
      .groupBy("span").agg(min(col("packed")).as("w"))
      .select(shiftright(col("w"), 20).as("doc_id"),
        col("w").bitwiseAND(lit((1L << 20) - 1)).cast("int").as("idx"),
        col("span"))
  }

  private def rebuildFromKept(base: DataFrame, kept: DataFrame,
                              sep: String): DataFrame = {
    val rebuilt = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      concat_ws(sep,
        transform(array_sort(collect_list(struct(col("idx"), col("span")))),
          x => x.getField("span"))).as("clean_text"))
    // docs whose every span was claimed elsewhere drop out of `kept`
    // entirely — restore them as empty survivors, not missing rows
    base.select(col("doc_id"), size(col("spans")).cast("long").as("n_spans"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** D2: all document pairs with n-gram-shingle Jaccard ≥ tau, via an
    * inverted index — candidates only for pairs sharing ≥1 shingle, so
    * the heavy operation is an equi-join shuffle on the shingle key,
    * never a cross join.
    *
    * @param dfCap shingles appearing in more than this many documents
    *              are dropped from the index AND from the set sizes
    *              (both sides of the Jaccard stay consistent). This
    *              bounds the join fan-out of degenerate "stop
    *              shingles" — the classic quadratic-bucket skew killer
    *              at corpus scale — AND (via the two-pass count-then-
    *              collect below) the per-key aggregation buffer. The
    *              oracle applies the same cap.
    */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   n: Int, tau: Double, dfCap: Long): DataFrame = {
    val jac = col("inter").cast("double") /
      (col("sz_i") + col("sz_j") - col("inter"))
    shinglePairSizes(docs, idCol, textCol, n, dfCap)
      .filter(jac >= tau)
      .select(col("i"), col("j"), round(jac, 4).as("jaccard"))
  }

  /** D18 (r14): n-gram CONTAINMENT pairs — the asymmetric complement
    * of [[jaccardPairs]]: score = |A∩B| / min(|A|,|B|), i.e. "how much
    * of the SMALLER document's shingle set the pair shares". The
    * subset/superset detector Jaccard structurally misses: a 100-line
    * doc fully embedded in a 10,000-line doc has Jaccard ≈ 0.01 but
    * containment 1.0 — the quote-expansion / boilerplate-wrapper
    * near-dup class (and the decontamination screen's metric, applied
    * corpus-internally). Same inverted-index candidate generation,
    * same dfCap skew bound, same scale shape — only the threshold
    * metric differs, so the plan cost is identical to Jaccard's. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, tau: Double, dfCap: Long): DataFrame = {
    val cont = col("inter").cast("double") / least(col("sz_i"), col("sz_j"))
    shinglePairSizes(docs, idCol, textCol, n, dfCap)
      .filter(cont >= tau)
      .select(col("i"), col("j"), round(cont, 4).as("containment"))
  }

  /** D19 (r15): blocked EDIT-DISTANCE near-dup pairs — record-linkage
    * fuzzy matching on short normalized keys (titles / names / URLs /
    * leading text): pairs whose Levenshtein distance on
    * `lower(substr(text, 1, keyLen))` is ≤ `maxDist`, found WITHOUT a
    * quadratic self-join via two-pass prefix/suffix blocking.
    *
    * Recall proof (maxDist = 1): candidates must share either the
    * first `p` or the last `p` characters of the key. A single edit
    * (substitution at position i, or one indel) breaks the prefix-p
    * block only when i < p and breaks the suffix-p block only when
    * i ≥ len − p; both can hold only when len < 2p — so over keys of
    * length ≥ 2p (the operator's domain filter) the two passes
    * TOGETHER have provably FULL recall, and the blocked result
    * EQUALS the quadratic exact result (spec-pinned by brute-force
    * comparison). For maxDist > 1 the guarantee needs the PassJoin
    * k+1-segment scheme — out of scope; maxDist is capped at 1.
    *
    * Scale shape: block membership is 2 rows per doc; the candidate
    * self-join runs per block key, so cost is Σ_blk |blk|² — bounded
    * by [[Skew.capHotKeys]] with `blockCap` (boilerplate prefixes are
    * the real-world hot-block hazard: "Copyright 20…" at 10⁸ docs;
    * over-cap blocks drop ENTIRELY, the jaccard-dfCap recall stance,
    * LOUD in the contract not silent). Pair dedup (a pair can arrive
    * via both passes) happens BEFORE the Levenshtein evaluation, and
    * the length pre-filter |len_i − len_j| ≤ maxDist plus Spark's
    * bounded-DP threshold form `levenshtein(l, r, maxDist)` keep the
    * per-pair cost O(keyLen · maxDist), not O(keyLen²). */
  def editDistancePairs(docs: DataFrame, idCol: String, textCol: String,
                        keyLen: Int = 24, p: Int = 10,
                        maxDist: Int = 1,
                        blockCap: Long = 10000L): DataFrame = {
    require(maxDist == 1, "recall proof covers maxDist = 1 only")
    val keyed = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        lower(substring(col(textCol), 1, keyLen)).as("k"))
      .filter(length(col("k")) >= 2 * p)
    val bl = Skew.capHotKeys(
      keyed.select(col("id"), col("k"),
          substring(col("k"), 1, p).as("blk"))
        .union(keyed.select(col("id"), col("k"),
          substring(col("k"), -p, p).as("blk"))),
      blockCap, Seq("blk"))
    val cand = bl.as("a").join(bl.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("i"), col("b.id").as("j"),
        col("a.k").as("ki"), col("b.k").as("kj"))
      .distinct()
      .filter(abs(length(col("ki")) - length(col("kj"))) <= maxDist)
    cand
      .withColumn("dist", levenshtein(col("ki"), col("kj"), maxDist))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col("i"), col("j"), col("dist").cast("long").as("dist"))
  }

  /** Shared inverted-index core of [[jaccardPairs]] /
    * [[containmentPairs]]: candidate pairs sharing ≥1 capped shingle,
    * with intersection count and both capped set sizes —
    * (i, j, inter, sz_i, sz_j), i < j. */
  /** Hashed, df-capped shingle stream + per-doc capped set sizes —
    * the shared sub-pipeline of the n-gram pair family (factored r16;
    * NOTE: wiring the planted-truth twins onto this stream was
    * measured 1.5× SLOWER at the ×10 pack and reverted — the truth's
    * extra consumers raced the cache materialization and re-ran this
    * pipeline from parquet up to 8× concurrently, see
    * OPTIMIZATION_r16.md §4).
    *
    * The index key is xxhash64(shingle), not the shingle string: the
    * shuffle moves fixed-width longs (~5× smaller payload), and a
    * 64-bit collision perturbing a pair's intersection count is
    * ~2^-64 — negligible against tau-threshold decisions.
    *
    * `sh` persisted: the hashed token stream feeds the cap's count
    * branch, its semi-join stream, and (via `capped`) the posting and
    * size aggregations — consumers Catalyst cannot collapse, each of
    * which would re-run the corpus scan + shingle explode. The cache
    * is 16 B per token occurrence — the inverted index's raw stream,
    * the working set any multi-pass dedup pipeline materializes.
    * `sizes` persisted: joins onto both pair sides; 16 B per doc.
    *
    * Returns (capped stream (doc_id, tok), sizes (doc_id, sz)). */
  private[graft] def cappedShingleStream(docs: DataFrame, idCol: String,
                                         textCol: String, n: Int,
                                         dfCap: Long): (DataFrame, DataFrame) = {
    // widen + materialized token attribute (TextOps.withTokens — the
    // ngrams caller contract) before the shingle explode
    val sh = pin(TextOps.withTokens(docs, textCol, Seq(col(idCol).as("doc_id")))
      .select(col("doc_id"),
        explode(TextOps.shingles(col("graft_toks"), n)).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("tok")))
    // TWO-PASS df cap ([[Skew.capHotKeys]]): tokens over the cap are
    // dropped BEFORE any posting list is collected, so every
    // collect_list buffer is bounded by dfCap rows by construction —
    // the single-pass collect-then-filter form bounded join fan-out
    // but materialized the full hot-token buffer first (a
    // stop-shingle in 10^8 docs ≈ 800 MB on one aggregation key).
    val capped = Skew.capHotKeys(sh, dfCap, Seq("tok"))
    // capped set size per doc (the Jaccard denominator must use the
    // same capped universe as the intersection counts). Counted from
    // the capped STREAM, not by re-exploding the posting lists:
    // shingles are distinct per doc, so the two are equal — and this
    // skips a second pass over the collected lists.
    val sizes = pin(capped.groupBy("doc_id").agg(count(lit(1)).as("sz")))
    (capped, sizes)
  }

  private def shinglePairSizes(docs: DataFrame, idCol: String,
                               textCol: String, n: Int,
                               dfCap: Long): DataFrame = {
    val (capped, sizes) = cappedShingleStream(docs, idCol, textCol, n, dfCap)
    pairSizesFrom(capped, sizes)
  }

  private def pairSizesFrom(capped: DataFrame,
                            sizes: DataFrame): DataFrame = {
    // pairwise combinations within each (bounded-size) posting list
    // (the capped semi-join output is already partitioned by tok, so
    // the posting aggregation adds no exchange) — candidate pairs
    // share ≥1 shingle by construction, so intersection size = number
    // of posting lists containing the pair
    val inter = Sketches.postingPairs(capped, "tok")
      .groupBy("i", "j")
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("i"), col("sz").as("sz_i")), "i")
      .join(sizes.select(col("doc_id").as("j"), col("sz").as("sz_j")), "j")
  }

  /** D5: exact embedding near-duplicate pairs (cosine ≥ tau).
    *
    * Definitionally all-pairs: this is the small-scale correctness
    * baseline; at 100 TB use [[embeddingPairsLsh]] (same output
    * contract, bucketed candidates) or the Similarity.lshTopK/ivfTopK
    * search shapes. The [[Guard]] refuses inputs above `maxRows`
    * unless `allowAllPairs = true`, so the O(n²) join is opt-in, not
    * a foot-gun a billion-row corpus hits unawares. Norms are computed
    * once per row before the join, so the pair-level work is one fused
    * dot product.
    */
  def embeddingPairs(vecs: DataFrame, idCol: String, vecCol: String,
                     tau: Double, maxRows: Long = 100000L,
                     allowAllPairs: Boolean = false): DataFrame = {
    val guarded = Guard.allPairsBaseline(vecs, maxRows, allowAllPairs,
      "Dedup.embeddingPairs", "Dedup.embeddingPairsLsh")
    val v = Par.widen(guarded).select(col(idCol).as("id"),
                        VectorFunctions.asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", VectorFunctions.l2(col("v")))
    val a = v.select(col("id").as("i"), col("v").as("va"), col("nrm").as("na"))
    val b = v.select(col("id").as("j"), col("v").as("vb"), col("nrm").as("nb"))
    val cos = VectorFunctions.cosinePre(
      VectorFunctions.dot(col("va"), col("vb")), col("na"), col("nb"))
    a.join(b, col("i") < col("j"))
      .withColumn("cosine", cos)
      .filter(col("cosine") >= tau)
      .select(col("i"), col("j"), round(col("cosine"), 4).as("cosine"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): embedding-cluster
    * the corpus, then prune near-duplicates WITHIN each cluster — the
    * published semantic-dedup pipeline for web-scale training data.
    * Candidate generation = single-probe k-means assignment (one
    * codegen'd NearestCentroids pass, cost n·k); verification = exact
    * cosine within the cluster equi-join (Σ cluster² ≈ n²/k balanced —
    * k ≈ √n keeps total work ~n^1.5, never all-pairs). Same output
    * contract and bit-identical cosine expression as
    * [[embeddingPairs]], so results anti-join cleanly against the
    * exact baseline: precision is 1.0 structurally (every emitted pair
    * is exact-cosine-verified); recall is bounded by cluster
    * co-location — a near-dup pair straddling a boundary is missed,
    * the paper's k trade-off, measured by `dedup_semantic_check`.
    */
  def semanticPairs(vecs: DataFrame, idCol: String, vecCol: String,
                    tau: Double, k: Int, iters: Int = 4,
                    probes: Int = 4): DataFrame = {
    val centroids = Similarity.fitCentroids(vecs, idCol, vecCol, k, iters)
    // MULTI-PROBE (soft) assignment: each vector joins its `probes`
    // nearest clusters. Single-probe recall collapses as k grows —
    // high-dim Voronoi cells tighten, and a genuine near-dup's jitter
    // crosses the boundary (measured: recall < 0.8 at k=450 over 200k
    // vecs with 1 probe, ≥ 0.8 with 4) — the same soft-assignment fix
    // IVF search uses (nprobe). Pair cost multiplies by ≤ probes per
    // side; duplicates from shared probes collapse in the distinct.
    val v = pin(Par.widen(vecs).select(col(idCol).as("id"),
        VectorFunctions.asDouble(col(vecCol)).as("v"))
      .withColumn("cid", explode(
        Similarity.nearestCentroid(col("v"), centroids, probes)))
      .withColumn("nrm", VectorFunctions.l2(col("v"))))
    val a = v.select(col("cid"), col("id").as("i"), col("v").as("va"),
      col("nrm").as("na"))
    val b = v.select(col("cid"), col("id").as("j"), col("v").as("vb"),
      col("nrm").as("nb"))
    val cos = VectorFunctions.cosinePre(
      VectorFunctions.dot(col("va"), col("vb")), col("na"), col("nb"))
    a.join(b, Seq("cid")).filter(col("i") < col("j"))
      .withColumn("cosine", cos)
      .filter(col("cosine") >= tau)
      .select(col("i"), col("j"), round(col("cosine"), 4).as("cosine"))
      .distinct()
  }

  /** D5-at-scale: embedding near-duplicate pairs (cosine ≥ tau) with
    * random-hyperplane LSH candidate generation — the scalable twin of
    * [[embeddingPairs]] with the SAME output contract.
    *
    * Candidates come from an equi-join on (table, bucket) sign-hash
    * keys (shared bucketing with Similarity.lshTopK), so the shuffle
    * is O(n · tables) bucket rows instead of O(n²) pairs; exact cosine
    * then verifies every candidate, which makes the result a strict
    * subset of the exact baseline (precision 1.0 — the approximation
    * only loses pairs whose buckets never collide, bounded by the
    * (1-(1-p^bits)^tables) collision probability; recall asserted in
    * SketchSpec). Pass `dim` when known to skip the one-row probe.
    * `bits` defaults to [[Similarity.autoBits]] of the corpus size so
    * bucket capacity tracks the corpus (candidate volume stays
    * ~n·targetBucket per table instead of n²/2^bits), and `tables`
    * defaults to [[Similarity.autoTables]] at design similarity `tau`
    * so the recall contract survives the wider hashes — bits and
    * tables must move TOGETHER or recall collapses as n grows;
    * `maxBucket` drops degenerate identical-vector buckets before
    * pairing.
    */
  def embeddingPairsLsh(vecs: DataFrame, idCol: String, vecCol: String,
                        tau: Double, tables: Option[Int] = None,
                        bits: Option[Int] = None,
                        seed: Long = 42L, dim: Option[Int] = None,
                        targetBucket: Long = 64L,
                        maxBucket: Long = 10000L): DataFrame =
    dim.orElse(Similarity.probeDim(vecs, vecCol)) match {
      case None => // empty / all-null input: empty result, same schema
        vecs.limit(0).select(col(idCol).as("i"), col(idCol).as("j"),
          lit(0.0).as("cosine"))
      case Some(d) =>
        // COST-BASED fallback (auto mode only): exact all-pairs has
        // recall 1.0 under the SAME output contract, so below the
        // crossover it strictly dominates. The model, with constants
        // measured on the 10x scale run: the exact path is ONE
        // broadcast-loop stage of fused-codegen dot products (~1e8
        // pairs/s at 32 threads), while each LSH candidate pays ~20x
        // that (per-table shuffle stages, bucket explode, distinct) —
        // at n = 20k the recall-preserving ~90 tables cost 13.3 s
        // against 2.1 s exact. So: fall back while the exact pair
        // count n/2-per-row stays within ~16x the expected per-row
        // candidate volume (tables·targetBucket) — conservative vs
        // the measured 20x — AND n is small enough that the exact
        // join is unconditionally safe (n ≤ 32768: ≤ 5.4e8 pairs,
        // ≤ 16 MB broadcast side). The hard cap is what makes
        // bypassing the all-pairs guard sound; past it the LSH plan
        // runs even if the model says exact would win on wall-clock,
        // because a degenerate near-identical-mass corpus is cheap
        // under LSH (maxBucket drops the spike) but quadratic under
        // exact (review finding). Pinning bits or tables opts out.
        val resolved: Option[(Int, Int)] =
          if (bits.nonEmpty || tables.nonEmpty) None
          else {
            val n = vecs.count()
            val b = Similarity.autoBits(n, targetBucket)
            val t = Similarity.autoTables(b, tau)
            if (n <= 32768L && n / 2 <= 16L * t * targetBucket)
              return embeddingPairs(vecs, idCol, vecCol, tau,
                allowAllPairs = true)
            Some((t, b))
          }
        val v = Par.widen(vecs).select(col(idCol).as("id"),
            VectorFunctions.asDouble(col(vecCol)).as("v"))
          .withColumn("nrm", VectorFunctions.l2(col("v")))
        val pairs = lshCandidatePairs(vecs, idCol, vecCol,
          tables.orElse(resolved.map(_._1)), bits.orElse(resolved.map(_._2)),
          seed, d, targetBucket, maxBucket, designSim = tau)
        val cand = pairs
          .join(v.select(col("id").as("i"), col("v").as("va"), col("nrm").as("na")), "i")
          .join(v.select(col("id").as("j"), col("v").as("vb"), col("nrm").as("nb")), "j")
        val cos = VectorFunctions.cosinePre(
          VectorFunctions.dot(col("va"), col("vb")), col("na"), col("nb"))
        cand.withColumn("cosine", cos)
          .filter(col("cosine") >= tau)
          .select(col("i"), col("j"), round(col("cosine"), 4).as("cosine"))
    }

  /** The candidate stage of [[embeddingPairsLsh]]: distinct (i, j) id
    * pairs sharing ≥1 capped (table, bucket) key. Exposed for the
    * scale spec, which asserts candidate volume grows ~linearly with
    * the corpus under [[Similarity.autoBits]] (quadratic growth here
    * is exactly the failure mode the auto-scaling prevents). */
  private[graft] def lshCandidatePairs(vecs: DataFrame, idCol: String,
                                       vecCol: String, tables: Option[Int],
                                       bits: Option[Int], seed: Long, dim: Int,
                                       targetBucket: Long,
                                       maxBucket: Long,
                                       designSim: Double): DataFrame = {
    val b = bits.getOrElse(Similarity.autoBits(vecs.count(), targetBucket))
    val t = tables.getOrElse(Similarity.autoTables(b, designSim))
    val planes = Similarity.hyperplanes(t, b, dim, seed)
    // persist the pre-explode hashed form — the tables·bits·dim
    // sign-hash otherwise recomputes once per cap branch and self-join
    // side (×4); see the matching note in [[Similarity.lshTopK]]
    val hashed = pin(Par.widen(vecs).select(col(idCol).as("id"),
        VectorFunctions.asDouble(col(vecCol)).as("v"))
      .select(col("id"), Similarity.bucketKeys(col("v"), planes).as("bks")))
    val keyed = hashed.select(col("id"), explode(col("bks")).as("bk"))
    // candidate pairs carry ONLY ids through the bucket join and the
    // multi-table dedup: the distinct shuffles 16-byte (i, j) pairs,
    // not per-candidate vector payloads (at corpus scale candidates
    // outnumber rows — shuffling arrays per candidate would dominate
    // the whole job). Vectors re-attach by two id equi-joins after.
    // Degenerate buckets (identical-vector spikes) are dropped by the
    // two-pass cap BEFORE the in-bucket self-join can go quadratic.
    val ids = Similarity.capBuckets(keyed.select(col("bk"), col("id")),
      maxBucket, Seq("bk"))
    ids.join(ids.withColumnRenamed("id", "j"), "bk")
      .where(col("id") < col("j"))
      .select(col("id").as("i"), col("j"))
      .distinct() // same pair can collide in several tables
  }
}
