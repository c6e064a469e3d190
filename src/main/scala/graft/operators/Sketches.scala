package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import Pins.pin

/** SURVEY §2.D3/D4 — hash-sketch dedup: MinHash + banded LSH and
  * 64-bit SimHash with hamming-band candidate generation.
  *
  * Both reduce near-duplicate detection to equi-join shuffles on
  * sketch-derived keys (never all-pairs):
  *  - signatures are computed in ONE hash aggregation per document
  *    (k min-aggregates / 64 sum-aggregates, map-side partial agg —
  *    the shuffle payload is |docs| × sketch, not |docs| × tokens);
  *  - candidates come from posting lists per band key, the same
  *    bounded-bucket pattern as the inverted-index Jaccard join.
  *
  * Not SQL-expressible in DuckDB (xxhash64 signatures) → rows-only
  * driver checks; recall-vs-ground-truth invariants live in
  * SketchSpec. Multi-consumer sketch tables are pinned through
  * [[Pins.pin]] (cache lifetime: its scaladoc).
  */
object Sketches {

  /** MinHash signature per document: for each of `k` seeded hash
    * functions, the min of `xxhash64(seed, shingle)` over the doc's
    * shingle set. Columns: doc_id, h0..h{k-1}.
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, k: Int): DataFrame = {
    // widen + materialized token attribute (TextOps.withTokens — the
    // ngrams caller contract) before the shingle explode
    val sh = TextOps.withTokens(docs, textCol, Seq(col(idCol).as("doc_id")))
      .select(col("doc_id"),
        explode(TextOps.shingles(col("graft_toks"), n)).as("tok"))
    sh.groupBy("doc_id")
      .agg(
        min(xxhash64(lit(0), col("tok"))).as("h0"),
        (1 until k).map(s => min(xxhash64(lit(s), col("tok"))).as(s"h$s")): _*)
  }

  /** D3: candidate near-dup pairs via banded MinHash-LSH: signatures
    * split into `bands` bands of `k/bands` rows; docs sharing any
    * band key become a candidate pair. Output: (i, j, sig_sim) where
    * sig_sim = fraction of agreeing signature components (the MinHash
    * estimate of Jaccard similarity), filtered at `minSigSim`.
    *
    * @param maxBucket degenerate-corpus guard: band buckets larger
    *   than this are dropped BEFORE their posting list is collected
    *   (two-pass count + semi-join, like the Jaccard df cap), bounding
    *   both the aggregation buffer and the in-bucket pair explosion —
    *   a mass-identical corpus (every doc the same) makes one bucket
    *   hold the whole corpus and its pair output quadratic. Pairs
    *   confined to over-cap buckets are lost; a bucket that large
    *   means near-identical mass that exact dedup ([[Dedup.exact]])
    *   should collapse FIRST — this operator's contract is the
    *   long-tail of near-dups, not the exact-dup spike.
    */
  def minhashLsh(docs: DataFrame, idCol: String, textCol: String,
                 n: Int = 3, k: Int = 16, bands: Int = 4,
                 minSigSim: Double = 0.5,
                 maxBucket: Long = 10000L): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val r = k / bands
    // The signature table feeds FOUR plan consumers (band explode, the
    // cap's count branch, and both verify-join sides), and Catalyst
    // cannot reuse the exchange across them (the join sides carry
    // pushed not-null filters the band path lacks) — unpersisted, the
    // corpus scan + shingle explode + k-way min-agg runs four times,
    // the dominant cost at corpus scale. The sketch is |docs|×(k+1)
    // longs (~0.1% of the corpus — model-sized, NOT the corpus pin the
    // fitCentroids review finding rejects), so pin it; the entry is
    // plan-keyed in the CacheManager, so repeated builds over the
    // same input share one copy.
    val sigs = pin(minhashSignatures(docs, idCol, textCol, n, k))
    // two-pass bucket cap (Skew.capHotKeys), then posting list per
    // surviving band key -> in-bucket pairs, deduped across bands
    // (collect_list buffers are bounded by maxBucket by construction)
    val cand = postingPairs(
      Skew.capHotKeys(minhashBandKeys(sigs, bands, r), maxBucket, Seq("bk")),
      "bk").distinct()
    verifySignatures(cand, sigs, sigs, k, minSigSim)
  }

  /** One row (doc_id, bk) per MinHash band of each signature: the band
    * key is the hash of the band's `r` signature components. */
  private def minhashBandKeys(sigs: DataFrame, bands: Int, r: Int): DataFrame =
    sigs.select(
      col("doc_id"),
      array((0 until bands).map(b =>
        xxhash64(lit(b) +: (0 until r).map(i => col(s"h${b * r + i}")): _*)): _*)
        .as("bks"))
      .select(col("doc_id"), explode(col("bks")).as("bk"))

  /** Verify candidate pairs (i, j) on full signatures — `sigsI` holds
    * doc i's, `sigsJ` doc j's: estimated Jaccard = fraction of equal
    * components (equi-join on doc id, no fan-out), kept at
    * `minSigSim`. Output: (i, j, sig_sim). */
  private def verifySignatures(cand: DataFrame, sigsI: DataFrame,
                               sigsJ: DataFrame, k: Int,
                               minSigSim: Double): DataFrame = {
    val si = sigsI.toDF(sigsI.columns.toIndexedSeq
      .map(c => if (c == "doc_id") "i" else s"${c}_i"): _*)
    val sj = sigsJ.toDF(sigsJ.columns.toIndexedSeq
      .map(c => if (c == "doc_id") "j" else s"${c}_j"): _*)
    val agree = (0 until k).map(s =>
      when(col(s"h${s}_i") === col(s"h${s}_j"), 1).otherwise(0))
      .reduce(_ + _).cast("double") / k
    cand.join(si, "i").join(sj, "j")
      .withColumn("sig_sim", agree)
      .filter(col("sig_sim") >= minSigSim)
      .select(col("i"), col("j"), round(col("sig_sim"), 4).as("sig_sim"))
  }

  /** In-bucket doc pairs (i < j) from the posting list of each `keys`
    * bucket of a (doc_id, keys…) stream: two native explodes + a
    * filter over each sorted list (codegen'd GenerateExec, no
    * interpreted combination builder). A pair sharing several buckets
    * appears once per bucket; callers dedup or count. */
  private[graft] def postingPairs(stream: DataFrame, keys: String*): DataFrame =
    stream.groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .select(explode(col("ds")).as("i"), col("ds"))
      .select(col("i"), explode(col("ds")).as("j"))
      .where(col("i") < col("j"))

  /** D7: INCREMENTAL near-dup detection — which docs of a NEW batch
    * near-duplicate something in the HISTORICAL corpus. The daily-
    * ingest shape of D3: a training pipeline ingesting m docs/day
    * against an n-doc history must not pay the n² (or even (n+m)²)
    * candidate cost of re-deduping the union; here candidates are the
    * cross band-key join only — cost ∝ m·(bucket overlap), and the
    * history side can be a PRECOMPUTED signature table
    * ([[minhashSignatures]] written parquet at last run, the
    * IvfIndex-append analog for sketches) via `corpusSigs`.
    *
    * Same seeds/banding as [[minhashLsh]], so signatures are
    * comparable across runs by construction. No posting list at all:
    * the cross join IS the candidate generator, with the corpus-side
    * buckets capped two-pass ([[Skew.capHotKeys]]) — an over-cap
    * bucket is the exact-dup spike exact dedup owns, same contract as
    * D3. Batch-internal (new×new) dups are [[minhashLsh]] on the
    * batch alone; this operator's output is (i = new doc, j = corpus
    * doc, sig_sim ≥ minSigSim).
    */
  def minhashLshAgainst(newDocs: DataFrame, corpus: DataFrame,
                        idCol: String, textCol: String,
                        n: Int = 3, k: Int = 16, bands: Int = 4,
                        minSigSim: Double = 0.5,
                        maxBucket: Long = 10000L,
                        corpusSigs: Option[DataFrame] = None): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val r = k / bands
    val newSigs = pin(minhashSignatures(newDocs, idCol, textCol, n, k))
    val histSigs = pin(corpusSigs
      .getOrElse(minhashSignatures(corpus, idCol, textCol, n, k)))
    // cap the CORPUS side (the quadratic-fan-out risk: one hot
    // history bucket × every colliding new doc); the new batch joins
    // it directly — ids only through the shuffle, sigs re-attach after
    val hist = Skew.capHotKeys(minhashBandKeys(histSigs, bands, r), maxBucket, Seq("bk"))
      .withColumnRenamed("doc_id", "j")
    val cand = minhashBandKeys(newSigs, bands, r).withColumnRenamed("doc_id", "i")
      .join(hist, "bk")
      .where(col("i") =!= col("j")) // overlapping id spaces
      .select("i", "j").distinct()
    verifySignatures(cand, newSigs, histSigs, k, minSigSim)
  }

  /** 64-bit SimHash per document: bit b of the sketch is the sign of
    * Σ_tokens (bit b of xxhash64(token) ? +1 : -1). One native codegen
    * expression per row ([[graft.functions.SimHash64]]) — a pure
    * projection, so the sketch pass has NO shuffle and no aggregation
    * buffer (the former explode → 64-sum-agg form exchanged every
    * token row on doc_id; bit-identical output, pinned by the
    * DifferentialSpec JVM reference). Docs with a null/empty token
    * array are dropped, matching the explode form's semantics.
    * Columns: doc_id, simhash.
    */
  def simhashSketch(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.{GraftExpressionBridge => B}
    // null filter on the RAW text, before tokenize: tokens(text) is
    // null iff text is null (split of any non-null string yields ≥ 1
    // element), and a post-projection guard on the token column would
    // be pushed back below the projection, re-running the tokenize
    // chain per row (review finding)
    TextOps.withTokens(docs.where(col(textCol).isNotNull), textCol,
        Seq(col(idCol).as("doc_id")))
      .select(col("doc_id"),
        B.column(graft.functions.SimHash64(
          B.expression(col("graft_toks")))).as("simhash"))
  }

  /** The SimHash twin of [[minhashLshAgainst]]: new-batch docs within
    * hamming distance `maxHamming` of a HISTORICAL doc, candidates
    * from the cross hamming-band join only. Because the 4×16-bit
    * banding is LOSSLESS for maxHamming ≤ 3 (pigeonhole, see
    * [[simhashPairs]]), the incremental result equals the full union
    * run's cross pairs EXACTLY (no estimator noise) wherever the
    * corpus-side bucket cap doesn't bind. `corpusSketches` accepts the
    * persisted sketch table from a previous run — the sketch is one
    * long per doc, the cheapest possible dedup state to carry
    * run-over-run. Output: (i = new doc, j = corpus doc, hamming). */
  def simhashPairsAgainst(newDocs: DataFrame, corpus: DataFrame,
                          idCol: String, textCol: String,
                          maxHamming: Int = 3, maxBucket: Long = 10000L,
                          corpusSketches: Option[DataFrame] = None): DataFrame = {
    val newSk = pin(simhashSketch(newDocs, idCol, textCol))
    val histSk = pin(corpusSketches
      .getOrElse(simhashSketch(corpus, idCol, textCol)))
    val hist = Skew.capHotKeys(simhashBandKeys(histSk), maxBucket, Seq("band", "bits"))
      .withColumnRenamed("doc_id", "j")
    val cand = simhashBandKeys(newSk).withColumnRenamed("doc_id", "i")
      .join(hist, Seq("band", "bits"))
      .where(col("i") =!= col("j"))
      .select("i", "j").distinct()
    verifyHamming(cand, newSk, histSk, maxHamming)
  }

  /** One row (doc_id, band, bits) per 16-bit band of each 64-bit
    * SimHash sketch (4 bands). */
  private def simhashBandKeys(sk: DataFrame): DataFrame =
    sk.select(
      col("doc_id"),
      explode(array((0 until 4).map(b => struct(
        lit(b).as("band"),
        shiftright(col("simhash"), b * 16).bitwiseAND(0xFFFFL).as("bits"))): _*))
        .as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.bits"))

  /** Verify candidate pairs (i, j) with an exact popcount of the
    * sketches' XOR — `skI` holds doc i's sketch, `skJ` doc j's — kept
    * at `maxHamming`. Output: (i, j, hamming). */
  private def verifyHamming(cand: DataFrame, skI: DataFrame, skJ: DataFrame,
                            maxHamming: Int): DataFrame = {
    val si = skI.select(col("doc_id").as("i"), col("simhash").as("sh_i"))
    val sj = skJ.select(col("doc_id").as("j"), col("simhash").as("sh_j"))
    cand.join(si, "i").join(sj, "j")
      .withColumn("hamming", bit_count(col("sh_i").bitwiseXOR(col("sh_j"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("i"), col("j"), col("hamming").cast("long").as("hamming"))
  }

  // ── Bloom-filter incremental EXACT dedup ──────────────────────────
  // The [[minhashLshAgainst]] analog for [[Dedup.exact]]'s notion of
  // duplicate: the carried state is a persisted Bloom filter of content
  // fingerprints (~1.2 MB per million docs at fpp 0.01), and a daily
  // batch screens against it at O(batch) with ZERO shuffle, instead of
  // an anti-join against the full history. Built on Spark's own
  // runtime-filter kernels — `BloomFilterAggregate` (codegen'd xxhash64
  // insert, map-side partial merge, one driver-side filter) and
  // `might_contain` (the screen rides the plan as a binary literal, the
  // same order of driver traffic as a broadcast dim). The aggregate's
  // buffer IS `org.apache.spark.util.sketch.BloomFilter`, so persisted
  // bytes re-open with `BloomFilter.readFrom` and filters sized with
  // identical (capacity, fpp) merge with `mergeInPlace` — which is what
  // makes the run-over-run append path below work.

  /** Serialized batch filter, sized for `capacity` items at `fpp`.
    * Returns None for an empty batch (the aggregate evals to null). */
  private def bloomBytes(docs: DataFrame, textCol: String,
                         capacity: Long, fpp: Double): Option[Array[Byte]] = {
    import org.apache.spark.sql.{GraftExpressionBridge => B}
    import org.apache.spark.sql.catalyst.expressions.Literal
    val bits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(capacity, fpp)
    val agg = new org.apache.spark.sql.catalyst.expressions.aggregate
      .BloomFilterAggregate(B.expression(xxhash64(col(textCol))),
        Literal(capacity), Literal(bits))
    Option(docs.select(B.column(agg.toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0))
  }

  private def bloomFs(df: DataFrame, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p, p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration))
  }

  /** Where [[writeExactBloom]] keeps the previous filter mid-publish. */
  private def bloomBackup(p: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(p.getParent, s"_graft_prev_${p.getName}")

  /** Read a persisted filter's bytes; None if absent (first run). A
    * filter a crash left mid-publish is recovered first. */
  def readExactBloom(df: DataFrame, path: String): Option[Array[Byte]] = {
    val (p, fs) = bloomFs(df, path)
    graft.sinks.Publish.recover(fs, p, bloomBackup(p))
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val len = fs.getFileStatus(p).getLen.toInt
        val buf = new Array[Byte](len)
        in.readFully(0, buf)
        Some(buf)
      } finally in.close()
    }
  }

  /** Stage the filter at `.<name>.staging` and publish it through
    * [[graft.sinks.Publish]] (backup `_graft_prev_<name>`): a reader
    * never sees a torn filter, and a crash at any step leaves the old
    * or the new filter recoverable. */
  private def writeExactBloom(df: DataFrame, path: String,
                              bytes: Array[Byte]): Unit = {
    val (p, fs) = bloomFs(df, path)
    val tmp = new org.apache.hadoop.fs.Path(
      p.getParent, s".${p.getName}.staging")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    graft.sinks.Publish.replace(fs, p, tmp, bloomBackup(p))
  }

  /** Build and persist the filter over a history corpus. Size it for
    * the corpus you expect to ACCUMULATE, not today's — filters built
    * or appended with the same (`expectedItems`, `fpp`) stay
    * merge-compatible, and fpp only degrades toward the design point
    * as inserts approach capacity. Returns the capacity used.
    * Past ~1e9 items a single filter is GBs — shard by
    * `pmod(xxhash64(text), k)` into k filters at that scale. */
  def buildExactBloom(docs: DataFrame, textCol: String, path: String,
                      expectedItems: Option[Long] = None,
                      fpp: Double = 0.01): Long = {
    val n = math.max(1L, expectedItems.getOrElse(docs.count()))
    writeExactBloom(docs, path,
      bloomBytes(docs, textCol, n, fpp).getOrElse {
        // empty corpus: publish an empty filter of the right shape so
        // the first daily append still finds merge-compatible state
        // (create(n, fpp) and the aggregate's (n, optimalNumOfBits)
        // sizing produce identical bits/hash counts)
        val empty = org.apache.spark.util.sketch.BloomFilter.create(n, fpp)
        val out = new java.io.ByteArrayOutputStream()
        empty.writeTo(out)
        out.toByteArray
      })
    n
  }

  /** Insert a batch's fingerprints into the persisted filter — the
    * run-over-run append a daily job does after landing its survivors.
    * `capacityItems`/`fpp` MUST match the build call (merge requires
    * identical sizing; violations throw). Empty batch is a no-op. */
  def mergeExactBloom(batch: DataFrame, textCol: String, path: String,
                      capacityItems: Long, fpp: Double = 0.01): Unit =
    bloomBytes(batch, textCol, math.max(1L, capacityItems), fpp)
      .foreach { batchBytes =>
        val merged = readExactBloom(batch, path) match {
          case None => batchBytes
          case Some(prev) =>
            import org.apache.spark.util.sketch.BloomFilter.readFrom
            val a = readFrom(new java.io.ByteArrayInputStream(prev))
            a.mergeInPlace(
              readFrom(new java.io.ByteArrayInputStream(batchBytes)))
            val out = new java.io.ByteArrayOutputStream(prev.length)
            a.writeTo(out)
            out.toByteArray
        }
        writeExactBloom(batch, path, merged)
      }

  /** Screen a batch against the persisted filter: adds `flagCol` =
    * "content fingerprint PROBABLY seen in the filtered history".
    * Guarantees: NO false negatives (a true duplicate of an inserted
    * document is always flagged — the Bloom property), false positives
    * at ~the build fpp. Route flagged rows to a verifying anti-join
    * against the store when ε loss of clean docs is unacceptable — the
    * two-phase shape screens the ~99% cheap and pays the join only on
    * the maybes (that wiring is
    * [[graft.streaming.CdcStream.dedupExactBloomLand]]). */
  def screenExactBloom(batch: DataFrame, textCol: String, path: String,
                       flagCol: String = "maybe_dup"): DataFrame = {
    import org.apache.spark.sql.{GraftExpressionBridge => B}
    import org.apache.spark.sql.catalyst.expressions.Literal
    val bytes = readExactBloom(batch, path).getOrElse(
      throw new IllegalArgumentException(
        s"no bloom filter at $path — run buildExactBloom"))
    batch.withColumn(flagCol,
      B.column(org.apache.spark.sql.catalyst.expressions
        .BloomFilterMightContain(
          Literal(bytes, org.apache.spark.sql.types.BinaryType),
          B.expression(xxhash64(col(textCol))))))
  }

  /** D4: near-dup pairs via SimHash hamming bands: the 64-bit sketch
    * splits into 4 × 16-bit bands. Any pair within hamming distance 3
    * must agree exactly on ≥1 band (pigeonhole: 3 differing bits can
    * touch at most 3 of the 4 bands), so banded candidates are
    * LOSSLESS for maxHamming ≤ 3; candidates are then verified with an
    * exact popcount of the XOR. Output: (i, j, hamming) ≤ maxHamming.
    *
    * @param maxBucket degenerate-corpus guard (see [[minhashLsh]]):
    *   band buckets above the cap are dropped before collection, so
    *   losslessness holds for corpora whose band buckets stay under
    *   `maxBucket` — a bucket beyond it is the exact-dup spike that
    *   [[Dedup.exact]] must collapse first, not near-dup long-tail.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, maxBucket: Long = 10000L): DataFrame = {
    // same four-consumer persist rationale as [[minhashLsh]]: the
    // 64-sum-agg sketch is (doc_id, long) per row — recomputing the
    // token explode per consumer is the scale cost, not the cache
    val sk = pin(simhashSketch(docs, idCol, textCol))
    // two-pass bucket cap (Skew.capHotKeys — bounded collect_list
    // buffers; same rationale as minhashLsh / the Jaccard df cap)
    val cand = postingPairs(
      Skew.capHotKeys(simhashBandKeys(sk), maxBucket, Seq("band", "bits")),
      "band", "bits").distinct()
    verifyHamming(cand, sk, sk, maxHamming)
  }

  // -------------------------------------------------------------------
  // Incremental distinct counting — persisted HLL sketch state, the
  // CARDINALITY complement of the Bloom membership filter above. The
  // reference's own verify query (test-scenarios/run_tests.py:91) pairs
  // count() with countDistinct(entity_id) per event type; over an
  // accumulated 100 TB history that countDistinct re-shuffles every
  // distinct value on every run. ClickHouse's answer is
  // AggregateFunction(uniq) state in a materialized view (uniqState /
  // uniqMerge); the Spark-native analog is a per-key DataSketches HLL
  // sketch via the native hll_sketch_agg / hll_union_agg aggregates
  // (TypedImperativeAggregate → ObjectHashAggregate with map-side
  // partial merge — no UDF, the sketch crosses the shuffle, never the
  // values). Each daily batch reduces to one sketch row per key (KBs
  // at lgK=12); history never re-reads.
  // Union-of-sketches == sketch-of-union at equal lgK, so a merged
  // estimate is IDENTICAL to a from-scratch rebuild (spec'd in
  // HllStateSpec), and a mismatched-lgK merge FAILS LOUD — Spark's
  // hll_union_agg throws unless allowDifferentLgConfigK is passed,
  // which this API deliberately never does (same refuse-mismatched-
  // state posture as the Bloom filter's sizing require).

  /** One HLL sketch of `valueCol` per `keyCols` group, plus the raw
    * row count the reference's verify query pairs with it. The state
    * is an ordinary DataFrame — binary `uniq_state` round-trips
    * through parquet — so a daily job lands it with a plain
    * partitioned write next to the data it summarizes.
    * Standard HLL error at lgK=12 is ~1.6% (1.04/√2¹²); bump lgK for
    * tighter bounds at ~2^(lgK) · 8 bytes per key of state. */
  def distinctState(df: DataFrame, keyCols: Seq[String], valueCol: String,
                    lgK: Int = 12): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol), lgK).as("uniq_state"),
        count(lit(1)).as("rows_state"))

  /** Merge day-states (any number of them, unioned) into one state row
    * per key: sketch union + row-count sum, both map-side-combinable —
    * the uniqMerge leg. Merging N days is a shuffle of N×|keys| sketch
    * rows, never of the underlying values. Throws on mismatched lgK. */
  def mergeDistinctStates(states: DataFrame, keyCols: Seq[String]): DataFrame =
    states.groupBy(keyCols.map(col): _*)
      .agg(hll_union_agg(col("uniq_state")).as("uniq_state"),
        sum(col("rows_state")).as("rows_state"))

  /** Finalize a state to the verify-query shape: per-key total rows +
    * estimated distinct values (run_tests.py:91's count/countDistinct
    * pair, O(|keys|) from state instead of O(history)). */
  def estimateDistinct(state: DataFrame): DataFrame =
    state.select(
      state.columns.filterNot(Set("uniq_state", "rows_state")).map(col) ++ Seq(
        col("rows_state").as("total"),
        hll_sketch_estimate(col("uniq_state")).cast("long")
          .as("uniq_est")): _*)

  // -------------------------------------------------------------------
  // Theta sketch state — distinct counting WITH set algebra. HLL
  // unions only; theta sketches also INTERSECT and DIFFERENCE, which
  // is what corpus-overlap questions need: "how many distinct
  // fingerprints does today's batch share with the benchmark set /
  // the landed corpus?" answered from two KB-scale sketch rows
  // instead of a distinct-join over both sides. The scale role is a
  // pre-screen for [[graft.operators.PipelineOps.decontaminate]]:
  // estimate |batch ∩ benchmark| per key first, and pay the exact
  // anti-join only where the estimate says contamination exists.
  // Sketches are exact below ~2^lgK retained hashes (theta = 1), so
  // small-side overlaps come back exact, and the estimate degrades
  // gracefully (~1.6% at lgK=12) beyond.

  /** One theta sketch of `valueCol` per `keyCols` group (empty
    * keyCols ⇒ one global row). Same daily-landing contract as
    * [[distinctState]]: binary `theta_state` round-trips parquet. */
  def thetaState(df: DataFrame, keyCols: Seq[String], valueCol: String,
                 lgK: Int = 12): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(theta_sketch_agg(col(valueCol), lgK).as("theta_state"))

  /** Union-merge day-states per key — the accumulation leg. */
  def mergeThetaStates(states: DataFrame, keyCols: Seq[String]): DataFrame =
    states.groupBy(keyCols.map(col): _*)
      .agg(theta_union_agg(col("theta_state")).as("theta_state"))

  /** Per-key overlap between two theta states (equi-join on keys; a
    * keyless pair of global states joins as two 1-row scalars):
    * distinct cardinality of each side plus their intersection —
    * |A|, |B|, |A ∩ B| — from sketch rows, never the values. */
  def thetaOverlap(a: DataFrame, b: DataFrame,
                   keyCols: Seq[String]): DataFrame = {
    val (ra, rb) = (a.withColumnRenamed("theta_state", "ts_a"),
      b.withColumnRenamed("theta_state", "ts_b"))
    val joined =
      if (keyCols.isEmpty) ra.crossJoin(rb) // two 1-row global states
      else ra.join(rb, keyCols)
    joined.select(keyCols.map(col) ++ Seq(
      theta_sketch_estimate(col("ts_a")).cast("long").as("uniq_a"),
      theta_sketch_estimate(col("ts_b")).cast("long").as("uniq_b"),
      theta_sketch_estimate(theta_intersection(col("ts_a"), col("ts_b")))
        .cast("long").as("overlap_est")): _*)
  }

  // -------------------------------------------------------------------
  // KLL quantile state — the DISTRIBUTION member of the state suite
  // (Bloom membership / HLL cardinality / theta set-algebra / KLL
  // quantiles; ClickHouse's quantileState/quantileMerge). Per-key
  // mergeable sketches of a numeric column (document length, quality
  // score, event value) land daily; corpus-level percentiles finalize
  // from state without re-reading history. Normalized rank error at
  // the default k=200 is ~1.65% — the verdict entries pin it.

  /** One KLL(bigint) sketch of `valueCol` per `keyCols` group. */
  def quantileState(df: DataFrame, keyCols: Seq[String], valueCol: String,
                    k: Int = 200): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(kll_sketch_agg_bigint(col(valueCol).cast("long"), k)
        .as("kll_state"))

  /** Merge day-states per key (kll_merge_agg — sketch-in/sketch-out,
    * map-side combinable like the HLL/theta merges). */
  def mergeQuantileStates(states: DataFrame, keyCols: Seq[String],
                          k: Int = 200): DataFrame =
    states.groupBy(keyCols.map(col): _*)
      .agg(kll_merge_agg_bigint(col("kll_state"), k).as("kll_state"))

  /** Finalize: one column per requested rank (q50/q90/..., the
    * normalized-rank naming), plus the sketch's item count. */
  def quantiles(state: DataFrame, ranks: Seq[Double]): DataFrame =
    state.select(
      state.columns.filterNot(_ == "kll_state").map(col) ++
        Seq(kll_sketch_get_n_bigint(col("kll_state")).as("n")) ++
        ranks.map(r => kll_sketch_get_quantile_bigint(
          col("kll_state"), lit(r)).as(s"q${(r * 100).round}")): _*)

  // -------------------------------------------------------------------
  // Frequent-items (topK) state — the HEAVY-HITTER member of the state
  // suite (Bloom membership / HLL cardinality / theta set-algebra /
  // KLL quantiles / frequent items; ClickHouse's topKState/topKMerge).
  // "Most active entities per event type" over an accumulated history
  // is a full groupBy(entity).count + rank re-shuffle on every run;
  // the mergeable answer is a per-key DataSketches ItemsSketch row via
  // Spark 4.1's native approx_top_k_accumulate / _combine / _estimate
  // (TypedImperativeAggregate → ObjectHashAggregate, map-side partial
  // merge — no UDF, the sketch crosses the shuffle, never the item
  // stream). Counts are EXACT while a key's distinct items fit the
  // tracked capacity (the sketch only purges beyond it — then counts
  // carry the documented ≤ N·3.5/maxMapSize overestimate bound and
  // heavy hitters above the error line are never dropped).
  //
  // Two loud-contract choices, matching the suite's posture:
  //  - NULL values are not items: filtered before accumulation (Spark's
  //    accumulate would otherwise track null as a first-class item and
  //    hand the estimate a null-keyed row; HLL/theta/KLL members all
  //    ignore nulls, and the reference's topK analog does too).
  //  - Mismatched capacities REFUSE to merge: Spark's _combine silently
  //    re-sizes (a purged 10⁴-capacity sketch folded into a 2¹⁰ merge
  //    compounds error with no signal), so [[mergeTopkStates]] guards
  //    every input state row and raise_error's on a capacity that
  //    differs from the declared one — same refuse-mismatched-state
  //    stance as the HLL lgK throw and the Bloom sizing require.

  /** One frequent-items sketch of `valueCol` per `keyCols` group.
    * State is an ordinary DataFrame (struct with a binary sketch) that
    * round-trips parquet — the daily-landing contract of the suite.
    * Size `maxItemsTracked` for the per-key distinct-item count you
    * expect to stay exact for; beyond it the sketch degrades to its
    * bounded-overestimate mode instead of failing. */
  def topkState(df: DataFrame, keyCols: Seq[String], valueCol: String,
                maxItemsTracked: Int = 10000): DataFrame =
    df.filter(col(valueCol).isNotNull)
      .groupBy(keyCols.map(col): _*)
      .agg(call_function("approx_top_k_accumulate",
        col(valueCol), lit(maxItemsTracked)).as("topk_state"))

  /** Merge day-states per key (the topKMerge leg) — sketch rows in,
    * sketch rows out, map-side combinable. Every input state must have
    * been built at `maxItemsTracked`: a mismatched capacity fails loud
    * per-row (see the suite posture above) instead of silently
    * re-sizing through Spark's permissive _combine. */
  def mergeTopkStates(states: DataFrame, keyCols: Seq[String],
                      maxItemsTracked: Int = 10000): DataFrame = {
    val guarded = states.withColumn("topk_state",
      when(col("topk_state.maxItemsTracked") === lit(maxItemsTracked),
        col("topk_state"))
        .otherwise(raise_error(concat(
          lit("mergeTopkStates: state built at maxItemsTracked="),
          col("topk_state.maxItemsTracked").cast("string"),
          lit(s" but merge declared $maxItemsTracked — refusing the " +
            "silent re-size (rebuild or re-declare)")))))
    guarded.groupBy(keyCols.map(col): _*)
      .agg(call_function("approx_top_k_combine",
        col("topk_state"), lit(maxItemsTracked)).as("topk_state"))
  }

  /** Finalize a state to its top-`k` items: adds `topk` =
    * array<struct<item, count>> sorted by descending count (tie order
    * among equal counts is sketch-internal — callers comparing against
    * an exact ranking must compare count-validity, not array order). */
  def topk(state: DataFrame, k: Int): DataFrame =
    state.select(
      state.columns.filterNot(_ == "topk_state").map(col) ++
        Seq(call_function("approx_top_k_estimate",
          col("topk_state"), lit(k)).as("topk")): _*)

  // -------------------------------------------------------------------
  // Bounded-state aggregates (graft.functions.BoundedAggs) — the
  // ClickHouse combinators whose point is a HARD per-group state cap:
  // uniqUpTo(N) and topKWeighted(k). Native TypedImperativeAggregates
  // (ObjectHashAggregate, map-side partial merge); SQL forms
  // `uniq_upto(x, n)` / `topk_weighted(item, w, cap)` registered by
  // GraftExtensions.

  private def exprOf(c: org.apache.spark.sql.Column) =
    org.apache.spark.sql.GraftExpressionBridge.expression(c)
  private def colOf(e: org.apache.spark.sql.catalyst.expressions.Expression) =
    org.apache.spark.sql.GraftExpressionBridge.column(e)

  /** Aggregate Column: min(distinct non-null values, n+1) — EXACT
    * below the cap, saturated n+1 above it, per-group state capped at
    * n+1 hashes (a count_distinct plans an unbounded (key, value)
    * de-dup exchange; this answers "distinct, capped at N" — the
    * reference's uniqUpTo — in one bounded aggregation). */
  def uniqUpToCol(value: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column =
    colOf(graft.functions.UniqUpTo(
      graft.GraftExtensions.hashedOrNull(exprOf(value)), n).toAggregateExpression())

  /** [[uniqUpToCol]] as a one-shot grouped frame. */
  def uniqUpTo(df: DataFrame, keyCols: Seq[String], valueCol: String,
               n: Int, as: String = "uniq_upto"): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(uniqUpToCol(col(valueCol), n).as(as))

  /** Aggregate Column: weighted heavy hitters over a capacity-capped
    * map — full tracked array (weight desc, item asc — deterministic
    * in the exact regime) of at most `capacity` (item, weight) pairs;
    * weights EXACT while a group's distinct items fit the capacity,
    * bounded-overestimate beyond (SpaceSaving min+w inheritance).
    * Callers `slice` their k. */
  def topkWeightedCol(item: org.apache.spark.sql.Column,
                      weight: org.apache.spark.sql.Column,
                      capacity: Int): org.apache.spark.sql.Column =
    colOf(graft.functions.TopKWeighted(
      exprOf(item.cast("string")), exprOf(weight.cast("long")), capacity)
      .toAggregateExpression())

  /** [[topkWeightedCol]] as a one-shot grouped frame. */
  def topkWeighted(df: DataFrame, keyCols: Seq[String], itemCol: String,
                   weightCol: String, capacity: Int,
                   as: String = "topk_w"): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(topkWeightedCol(col(itemCol), col(weightCol), capacity).as(as))

  /** Aggregate Column: bounded per-group top-k of (score, id) pairs —
    * the EXACT row set and order of `row_number().over(partitionBy(g)
    * .orderBy(score desc, id asc)) <= k`, as a capacity-k heap that
    * partial-aggregates map-side instead of sorting each group's full
    * pool (VERDICT r12 #3; [[graft.functions.TopKPairs]]). NULL
    * scores rank last (the window's desc NULLS LAST) and surface as
    * -Infinity in the emitted struct. Result: array<struct<score,
    * id>> best-first — `posexplode` recovers the rank. */
  def topkPairsCol(score: org.apache.spark.sql.Column,
                   id: org.apache.spark.sql.Column, k: Int): org.apache.spark.sql.Column =
    colOf(graft.functions.TopKPairs(
      exprOf(score.cast("double")), exprOf(id.cast("long")), k)
      .toAggregateExpression())

  // -------------------------------------------------------------------
  // Count-min sketch (graft.functions.CountMin) — mergeable point-
  // frequency estimation: "how often does THIS item occur", answered
  // from a fixed depth×width counter state with the overestimate-only
  // guarantee (est ≥ exact ALWAYS — deterministic, the invariant the
  // check entry certifies). Completes the sketch-state family: HLL =
  // distinct, theta = set algebra, KLL = quantiles, approx_top_k =
  // heavy-hitter list, CMS = arbitrary-item frequency. Same landed-
  // state lifecycle as distinctState/mergeDistinctStates.

  /** Aggregate Column: count-min state bytes of `value` (nulls are
    * not items). `width` a power of two; error ≤ ~e·N/width with
    * prob 1−exp(−depth) per query, overestimate-only always. */
  def cmsStateCol(value: org.apache.spark.sql.Column, depth: Int = 4,
                  width: Int = 8192): org.apache.spark.sql.Column =
    colOf(graft.functions.CountMinAgg(
      graft.GraftExtensions.hashedOrNull(exprOf(value)), depth, width)
      .toAggregateExpression())

  /** Per-key count-min states — the land-able daily shape. */
  def cmsState(df: DataFrame, keyCols: Seq[String], valueCol: String,
               depth: Int = 4, width: Int = 8192): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(cmsStateCol(col(valueCol), depth, width).as("cms_state"))

  /** Merge landed states per key: element-wise counter addition, so
    * merge(states) is BIT-IDENTICAL to the state of the concatenated
    * input under any partitioning/merge tree (spec-pinned). The
    * shuffle carries N·|keys| state rows, never values. */
  def mergeCmsStates(states: DataFrame, keyCols: Seq[String]): DataFrame =
    states.groupBy(keyCols.map(col): _*)
      .agg(colOf(graft.functions.CountMinMerge(
        exprOf(col("cms_state"))).toAggregateExpression()).as("cms_state"))

  /** Point estimate of `item`'s frequency from a state column. */
  def cmsEstimate(state: org.apache.spark.sql.Column,
                  item: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    colOf(graft.functions.CountMinEstimate(exprOf(state),
      graft.GraftExtensions.hashedOrNull(exprOf(item))))
}
